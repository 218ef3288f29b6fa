"""Round-4 engine changes pinned:

* grouped probe (runner.apply_epochs → lake.probe_epochs): probing every
  epoch in one up-front job must be a pure latency optimization — final
  state, watermarks and conflict metrics identical to a loop of
  apply_epoch, each epoch probing inline;
* lake.probe_batch == the inline probe merge_into runs;
* commit-manifest cache: reopened handles (cold cache) agree with the
  writing handle (warm cache) on epochs/history;
* the MoR auto-compaction registry query's policy actually fires.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events  # noqa: E402
from nifi_nlp_processor_spark.lake import ParquetLakeTable  # noqa: E402
from nifi_nlp_processor_spark.runner import CdcEngine  # noqa: E402


def _events(spark):
    return change_events(
        spark, ChangeStreamSpec(n_conversations=40, base_turns=6, n_epochs=4, seed=11)
    )


def _state(lake):
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in lake.read().select("conv_id", "turn_idx", "text").collect()
    )


def test_apply_epochs_prefetch_equals_serial(spark, tmp_path):
    ev = _events(spark)
    a = CdcEngine(lake=ParquetLakeTable(spark, str(tmp_path / "a"), n_buckets=8))
    b = CdcEngine(lake=ParquetLakeTable(spark, str(tmp_path / "b"), n_buckets=8))
    ra = a.apply_epochs(ev)
    rb = [
        b.apply_epoch(ev.where(F.col("epoch_id") == e), e)
        for e in sorted(r[0] for r in ev.select("epoch_id").distinct().collect())
    ]
    assert len(ra) == len(rb) == 4
    assert _state(a.lake) == _state(b.lake)
    # identical lineage: per-epoch applied counts, conflicts, watermarks
    for x, y in zip(ra, rb):
        assert x.merge.rows_applied == y.merge.rows_applied
        assert x.merge.updated == y.merge.updated
        assert x.merge.inserted == y.merge.inserted
        assert x.merge.stale == y.merge.stale
        assert x.merge.lsn_watermarks == y.merge.lsn_watermarks


def test_probe_batch_matches_inline_probe(spark, tmp_path):
    ev = _events(spark).where(F.col("epoch_id") == 0)
    lake = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=8)
    pre = lake.probe_batch(ev)
    # merging with the precomputed probe equals merging with the inline one
    lake.merge_into(ev, 0, probe=pre)
    lake2 = ParquetLakeTable(spark, str(tmp_path / "u"), n_buckets=8)
    lake2.merge_into(ev, 0)
    assert _state(lake) == _state(lake2)
    wm1 = lake.last_commit()["watermarks"]
    wm2 = lake2.last_commit()["watermarks"]
    assert wm1 == wm2


def test_commit_cache_consistent_across_handles(spark, tmp_path):
    ev = _events(spark)
    root = str(tmp_path / "t")
    writer = CdcEngine(lake=ParquetLakeTable(spark, root, n_buckets=8))
    writer.apply_epochs(ev, epoch_ids=[0, 1])
    # a FRESH handle (cold cache) sees exactly what the writer (warm
    # cache) sees — manifests are immutable, the cache only skips re-parse
    fresh = ParquetLakeTable(spark, root)
    assert fresh.committed_epochs() == writer.lake.committed_epochs() == {0, 1}
    # writer continues; both handles converge again
    writer.apply_epochs(ev, epoch_ids=[2, 3])
    assert fresh.committed_epochs() == {0, 1, 2, 3}
    assert [c["seq"] for c in fresh.commit_history()] == [
        c["seq"] for c in writer.lake.commit_history()
    ]


def test_autocompact_policy_fires_and_preserves_state(spark, tmp_path):
    ev = _events(spark)
    mor = CdcEngine(
        lake=ParquetLakeTable(spark, str(tmp_path / "m"), n_buckets=8),
        merge_mode="mor",
        auto_compact_deltas=2,
    )
    cow = CdcEngine(lake=ParquetLakeTable(spark, str(tmp_path / "c"), n_buckets=8))
    mor.apply_epochs(ev)
    cow.apply_epochs(ev)
    assert any(r.compacted for r in mor.results), "policy never fired"
    assert _state(mor.lake) == _state(cow.lake)
    # post-compaction no bucket's delta chain exceeds the threshold
    ptrs = mor.lake.last_commit()["buckets"]
    assert all(
        len(p.get("deltas", [])) <= mor.auto_compact_deltas for p in ptrs.values()
    )
