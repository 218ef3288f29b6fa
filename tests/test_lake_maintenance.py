"""Snapshot maintenance: expire_snapshots (Iceberg expire analogue) and
time travel. Manifests are never deleted — they are the exactly-once epoch
ledger — only data directories referenced by no retained manifest go."""

from __future__ import annotations

import datetime
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
    return spark.createDataFrame(
        [
            {"conv_id": c, "turn_idx": t, "role": "user", "text": x,
             "tool": None, "ts": _TS, "lsn": l, "op": "U", "epoch_id": e}
            for c, t, l, x, e in rows
        ],
        SCHEMA,
    )


def _data_dirs(root):
    d = os.path.join(root, "data")
    return sorted(os.listdir(d)) if os.path.exists(d) else []


@pytest.fixture()
def lake3(spark, tmp_path):
    """Three epochs: 0 spans many conversations (touches many buckets),
    1 touches a single conversation (one bucket), 2 spans many again."""
    lake = ParquetLakeTable(spark, str(tmp_path / "lake"), n_buckets=4)
    engine = CdcEngine(lake=lake)
    wide0 = [(f"c{i}", 0, 10 + i, f"v0-{i}", 0) for i in range(12)]
    narrow = [("c3", 0, 100, "v1-narrow", 1)]
    wide2 = [(f"c{i}", 0, 200 + i, f"v2-{i}", 2) for i in range(12)]
    engine.apply_epochs(_events(spark, wide0 + narrow + wide2), epoch_ids=[0, 1, 2])
    return lake


def test_expire_keeps_referenced_old_dirs(spark, lake3):
    # commit 2 (narrow epoch) rewrote ONE bucket and inherits pointers
    # into c1 for every untouched bucket — so with keep_last=2, c1 is
    # still live through commit 2's inherited references and NOTHING may
    # be reclaimed. This is the property that makes pointer-inheriting
    # copy-on-write safe to vacuum.
    before = {tuple(r) for r in lake3.read().collect()}
    out = lake3.expire_snapshots(keep_last=2)
    assert out["removed_dirs"] == []
    assert _data_dirs(lake3.root) == ["c00000001", "c00000002", "c00000003"]
    assert {tuple(r) for r in lake3.read().collect()} == before
    # time travel to seq 2 still works after the no-op vacuum
    assert ("c3", "v1-narrow") in {
        (r.conv_id, r.text) for r in lake3.read(at_seq=2).collect()
    }


def test_expire_to_head_only(spark, lake3):
    before = {tuple(r) for r in lake3.read().collect()}
    out = lake3.expire_snapshots(keep_last=1)
    # head (seq 3) rewrote every bucket, so both older dirs go
    assert out["removed_dirs"] == ["c00000001", "c00000002"]
    assert _data_dirs(lake3.root) == ["c00000003"]
    assert {tuple(r) for r in lake3.read().collect()} == before
    # the epoch ledger survives: re-applying any epoch is still a no-op
    assert lake3.committed_epochs() == {0, 1, 2}
    res = CdcEngine(lake=lake3).apply_epochs(
        _events(spark, [("c1", 0, 999, "replay", 0)]), epoch_ids=[0]
    )
    assert res[0].merge.skipped
    assert {tuple(r) for r in lake3.read().collect()} == before


def test_time_travel_reads_old_state(spark, lake3):
    # seq 1 = after epoch 0 only
    s1 = {(r.conv_id, r.text) for r in lake3.read(at_seq=1).collect()}
    assert s1 == {(f"c{i}", f"v0-{i}") for i in range(12)}
    # seq 2 = epoch 1's narrow update applied on top
    s2 = {(r.conv_id, r.text) for r in lake3.read(at_seq=2).collect()}
    assert ("c3", "v1-narrow") in s2 and ("c3", "v0-3") not in s2
    # head unchanged semantics
    assert lake3.read(at_seq=3).count() == lake3.read().count()
    with pytest.raises(ValueError, match="no snapshot"):
        lake3.read(at_seq=99)


def test_time_travel_after_expire_raises(spark, lake3):
    lake3.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        lake3.read(at_seq=1).collect()
    # retained head still reads
    assert lake3.read(at_seq=3).count() == 12


def test_expire_spares_inflight_orphan(spark, lake3):
    # a dir beyond the ledger head may be an unpublished in-flight write
    orphan = os.path.join(lake3.root, "data", "c00000099")
    os.makedirs(orphan)
    out = lake3.expire_snapshots(keep_last=1)
    assert "c00000099" not in out["removed_dirs"]
    assert os.path.exists(orphan)


def test_expire_keep_last_zero_rejected(lake3):
    with pytest.raises(ValueError):
        lake3.expire_snapshots(keep_last=0)


@pytest.fixture()
def fragmented(spark, tmp_path):
    """Three merge-on-read epochs over the same keys plus a delete — every
    touched bucket accretes delta file sets per epoch, so compaction has
    real work. (CoW epochs no longer fragment: the adaptive write salt
    gives a small bucket exactly one file per rewrite.)"""
    lake = ParquetLakeTable(spark, str(tmp_path / "clake"), n_buckets=2)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    e0 = [(f"c{i}", t, 100 + i * 10 + t, f"v0-{i}-{t}", 0) for i in range(6) for t in range(3)]
    e1 = [(f"c{i}", 0, 300 + i, f"v1-{i}", 1) for i in range(6)]
    engine.apply_epochs(_events(spark, e0), epoch_ids=[0])
    engine.apply_epochs(_events(spark, e1), epoch_ids=[1])
    # epoch 2: a delete tombstone that must survive compaction byte-for-byte
    ev = _events(spark, [("c0", 1, 400, None, 2)]).withColumn(
        "op", F.lit("D")
    )
    engine.apply_epochs(ev, epoch_ids=[2])
    return lake


def _bucket_file_count(lake):
    c = lake.last_commit()
    n = 0
    for ptr in c["buckets"].values():
        for part in lake._ptr_parts(ptr):  # base + MoR delta file sets
            d = os.path.join(lake.root, part["path"])
            n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def test_compact_is_state_identical_and_shrinks_files(spark, fragmented):
    before_live = {tuple(r) for r in fragmented.read().collect()}
    before_raw = {
        tuple(r) for r in fragmented.read_raw().drop("_b").collect()
    }
    epochs = fragmented.committed_epochs()
    nb = _bucket_file_count(fragmented)
    out = fragmented.compact()
    assert out["buckets_compacted"] >= 1
    assert out["files_after"] < out["files_before"] <= nb
    # one file per compacted bucket
    assert out["files_after"] == out["buckets_compacted"]
    assert {tuple(r) for r in fragmented.read().collect()} == before_live
    # tombstones and LSNs survive byte-identically
    assert {
        tuple(r) for r in fragmented.read_raw().drop("_b").collect()
    } == before_raw
    # the epoch ledger is untouched: a maintenance commit is not an epoch
    assert fragmented.committed_epochs() == epochs


def test_compact_does_not_break_exactly_once_or_later_merges(spark, fragmented):
    fragmented.compact()
    engine = CdcEngine(lake=fragmented)
    # re-applying a committed epoch is still a no-op after compaction
    m = fragmented.merge_into(
        _events(spark, [("c0", 0, 999, "dupe", 1)]), epoch_id=1
    )
    assert m.skipped
    # and a genuinely new epoch applies on top of the compacted layout
    engine.apply_epochs(_events(spark, [("c5", 0, 500, "v3", 3)]), epoch_ids=[3])
    got = {
        (r.conv_id, r.turn_idx, r.text)
        for r in fragmented.read().where(F.col("conv_id") == "c5").collect()
    }
    assert ("c5", 0, "v3") in got


def test_compact_preserves_time_travel_and_changelog(spark, fragmented):
    pre_seq = fragmented.last_commit()["seq"]
    pre_state = {tuple(r) for r in fragmented.read().collect()}
    fragmented.compact()
    # time travel to the pre-compaction snapshot still works
    assert {tuple(r) for r in fragmented.read(at_seq=pre_seq).collect()} == pre_state
    # the changelog across a pure compaction is empty: pointers changed,
    # rows did not
    assert fragmented.table_changes(from_seq=pre_seq).count() == 0


def test_compact_noop_when_nothing_fragmented(spark, fragmented):
    fragmented.compact()
    seq = fragmented.last_commit()["seq"]
    out = fragmented.compact()  # everything already single-file
    assert out["buckets_compacted"] == 0
    assert fragmented.last_commit()["seq"] == seq  # no empty commit published


def test_fsck_clean_table(spark, lake3):
    rep = lake3.fsck()
    assert rep["ok"]
    assert rep["bad_manifests"] == rep["missing_paths"] == []
    assert rep["dead_orphan_dirs"] == rep["inflight_dirs"] == []


def test_fsck_classifies_and_repairs_crash_debris(spark, lake3):
    before = {tuple(r) for r in lake3.read().collect()}
    # dead orphan: a data dir whose seq was won by a published manifest
    dead = os.path.join(lake3.root, "data", "c00000002x")  # non-numeric: skipped
    os.makedirs(dead)
    dead2 = os.path.join(lake3.root, "data", "c00000000")
    os.makedirs(dead2)
    # in-flight: seq beyond the ledger head — an unpublished writer
    inflight = os.path.join(lake3.root, "data", "c00000099")
    os.makedirs(inflight)
    # interrupted atomic-write droppings: a manifest, a schema file and
    # _table.json each publish through a .tmp- file next to their target
    tmps = [
        os.path.join(lake3.root, "_commits", ".tmp-deadwriter"),
        os.path.join(lake3.root, "_schema", ".tmp-deadschema"),
        os.path.join(lake3.root, ".tmp-deadprops"),
    ]
    for tmp in tmps:
        open(tmp, "w").write("{}")

    rep = lake3.fsck()
    assert rep["ok"]  # debris is not corruption
    assert rep["dead_orphan_dirs"] == ["c00000000"]
    assert rep["inflight_dirs"] == ["c00000099"]
    debris = [".tmp-deadprops", "_commits/.tmp-deadwriter", "_schema/.tmp-deadschema"]
    assert rep["tmp_files"] == debris
    assert rep["removed"] == []  # report-only by default

    rep = lake3.fsck(repair=True)
    assert sorted(rep["removed"]) == sorted(debris + ["data/c00000000"])
    assert not os.path.exists(dead2)
    assert not any(os.path.exists(tmp) for tmp in tmps)
    assert os.path.exists(inflight)  # never touch a possibly-live writer
    assert {tuple(r) for r in lake3.read().collect()} == before
    assert lake3.committed_epochs() == {0, 1, 2}


def test_fsck_detects_corruption(spark, lake3, tmp_path):
    import json as _json
    import shutil as _shutil

    # missing referenced data: delete a bucket dir out from under a manifest
    victim = None
    for c in lake3.commit_history():
        for ptr in c["buckets"].values():
            victim = os.path.join(lake3.root, ptr["path"])
            break
        break
    _shutil.rmtree(victim)
    # bad manifest: unparseable JSON appended to the ledger
    bad = os.path.join(lake3.root, "_commits", "commit-00000077.json")
    open(bad, "w").write("{not json")
    rep = lake3.fsck()
    assert not rep["ok"]
    assert any(m["file"] == "commit-00000077.json" for m in rep["bad_manifests"])
    assert rep["missing_paths"]  # the deleted bucket surfaced
    # repair never deletes referenced data or manifests on a corrupt table
    rep2 = lake3.fsck(repair=True)
    assert all(not p.startswith("_commits/commit-") for p in rep2["removed"])


def test_tags_pin_snapshots_through_expiry(spark, lake3):
    # tag the post-epoch-0 snapshot as a dataset release
    lake3.tag("train-v1", seq=1)
    assert lake3.tags() == {"train-v1": 1}
    v1 = {(r.conv_id, r.text) for r in lake3.read_tag("train-v1").collect()}
    assert v1 == {(f"c{i}", f"v0-{i}") for i in range(12)}

    # keep_last=1 would normally reclaim c1 and c2; the tag pins c1
    out = lake3.expire_snapshots(keep_last=1)
    assert out["removed_dirs"] == ["c00000002"]
    assert {(r.conv_id, r.text) for r in lake3.read_tag("train-v1").collect()} == v1

    # dropping the tag releases the pin; the next expiry reclaims c1
    lake3.drop_tag("train-v1")
    out = lake3.expire_snapshots(keep_last=1)
    assert out["removed_dirs"] == ["c00000001"]


def test_tag_head_default_move_and_reopen(spark, lake3):
    seq = lake3.tag("latest")
    assert seq == lake3.last_commit()["seq"]
    lake3.tag("latest", seq=2)  # re-tagging moves the name
    # a fresh handle adopts tags from table metadata
    reopened = ParquetLakeTable(spark, lake3.root)
    assert reopened.tags() == {"latest": 2}
    import pytest as _pt
    with _pt.raises(KeyError):
        reopened.read_tag("nope")
    with _pt.raises(ValueError):
        reopened.tag("bad", seq=99)


@pytest.mark.parametrize("race_at", ["_commit", "_publish"])
def test_racing_writer_cannot_replace_a_published_commit(spark, tmp_path, monkeypatch, race_at):
    """Two handles on one root both read seq 1; handle A publishes seq 2
    while B is about to write its data (``_commit``) or has written it and
    is about to publish (``_publish``). B must get a retryable conflict and
    leave A's commit — manifest and data — as A published it."""
    from nifi_nlp_processor_spark.lake import CommitConflictError

    root = str(tmp_path / "race")
    a = ParquetLakeTable(spark, root, n_buckets=4)
    b = ParquetLakeTable(spark, root)
    e0 = [(f"c{i}", 0, 10 + i, "v0", 0) for i in range(12)]
    e1 = [(f"c{i}", 0, 100 + i, "a", 1) for i in range(12)]
    e2 = [(f"c{i}", 1, 200 + i, "b", 2) for i in range(12)]
    a.merge_into(_events(spark, e0), 0)

    orig = getattr(ParquetLakeTable, race_at)
    raced = []

    def racing(self, *args, **kw):
        if self is b and not raced:
            raced.append(a.merge_into(_events(spark, e1), 1))
        return orig(self, *args, **kw)

    monkeypatch.setattr(ParquetLakeTable, race_at, racing)
    with pytest.raises(CommitConflictError):
        b.merge_into(_events(spark, e2), 2)
    assert raced
    fresh = ParquetLakeTable(spark, root)
    assert fresh.committed_epochs() == {0, 1}
    texts = {(r.conv_id, r.turn_idx): r.text for r in fresh.read().collect()}
    assert texts == {(f"c{i}", 0): "a" for i in range(12)}
    assert fresh.fsck()["ok"]
    # the retry re-reads the ledger and lands on top of A's commit
    b.merge_into(_events(spark, e2), 2)
    assert [c["epoch_id"] for c in fresh.commit_history()] == [0, 1, 2]
    assert len(fresh.read().collect()) == 24


def _head_files_sorted_on_key(lake):
    """{file: sorted on the merge key?} over every parquet file the head
    commit wrote (its own ``data/cNNNNNNNN`` dir)."""
    import pyarrow.parquet as pq

    head = lake.last_commit()
    out = {}
    for ptr in head["buckets"].values():
        for part in lake._ptr_parts(ptr):
            if not part["path"].startswith(f"data/c{head['seq']:08d}/"):
                continue
            d = os.path.join(lake.root, part["path"])
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(d, f), columns=lake.key_cols).to_pylist()
                    keys = [tuple(r[k] for k in lake.key_cols) for r in t]
                    out[f"{part['path']}/{f}"] = keys == sorted(keys)
    return out


def test_compact_and_rebucket_write_key_sorted_files(spark, tmp_path):
    """``compact`` and ``rebucket`` promise files sorted on the merge key
    (range-clustered row groups). Their sort must lead with the bucket:
    the partitioned write sorts on ``_b`` and drops a key-only sort under
    it, which left the files in shuffle order."""
    import random

    rng = random.Random(7)
    lake = ParquetLakeTable(spark, str(tmp_path / "sorted"), n_buckets=2)
    engine = CdcEngine(lake=lake, merge_mode="mor")
    for e in range(3):
        rows = [
            (f"c{i}", t, 1000 * e + 10 * i + t, f"v{e}-{i}-{t}", e)
            for i in range(40) for t in range(5)
        ]
        rng.shuffle(rows)
        engine.apply_epochs(_events(spark, rows), epoch_ids=[e])
    before = sorted(tuple(r) for r in lake.read().collect())
    # uncoalesced, the fold's sorted aggregate partitions reach each bucket
    # interleaved, as they do at any size AQE does not coalesce to one task
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert lake.compact()["buckets_compacted"] == 2
        compacted = _head_files_sorted_on_key(lake)
        lake.rebucket(3)
        rebucketed = _head_files_sorted_on_key(lake)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert compacted and all(compacted.values()), compacted
    assert rebucketed and all(rebucketed.values()), rebucketed
    assert sorted(tuple(r) for r in lake.read().collect()) == before


@pytest.mark.parametrize("lww", ["window", "agg"])
def test_cow_merge_writes_key_sorted_files(spark, tmp_path, lww):
    """A CoW rewrite's write tasks hold several buckets each (32 buckets,
    8 shuffle partitions), so a task writes bucket after bucket; each file
    it writes must still be sorted on the merge key, on both LWW paths."""
    import random

    rng = random.Random(11)
    lake = ParquetLakeTable(spark, str(tmp_path / lww), n_buckets=32)
    engine = CdcEngine(lake=lake, lww_strategy=lww)
    for e in range(2):
        rows = [
            (f"c{i}", t, 1000 * e + 10 * i + t, f"v{e}-{i}-{t}", e)
            for i in range(120) for t in range(2)
        ]
        rng.shuffle(rows)
        engine.apply_epochs(_events(spark, rows), epoch_ids=[e])
        written = _head_files_sorted_on_key(lake)
        # every bucket is touched and written as one file
        assert len(written) == len(lake.last_commit()["buckets"]) > 8, written
        assert all(written.values()), written
