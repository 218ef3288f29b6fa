"""Round-5 engine changes pinned:

* merge_into probe-contract guard: a caller-supplied probe that misses a
  bucket the merge actually writes must abort BEFORE commit (a silent miss
  would replace that bucket's pointer with a batch-only fold and drop its
  existing rows);
* atomic schema publication: evolution leaves no temp files behind and the
  published file parses (the per-handle schema cache requires
  immutable-and-complete-once-named);
* interval_join validates its ``how`` (only inner/left_outer are covered
  by the contract, watermark and eviction assumptions);
* the registry holds EXACTLY 50 entries (the driver's gate window — see
  REGISTRY.md) and every query has an oracle, and PLANS.md audits exactly
  the registry's queries.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_nlp_processor_spark.fixtures import ChangeStreamSpec, change_events  # noqa: E402
from nifi_nlp_processor_spark.lake import ParquetLakeTable  # noqa: E402


def _events(spark, epoch=0):
    ev = change_events(
        spark, ChangeStreamSpec(n_conversations=40, base_turns=6, n_epochs=2, seed=23)
    )
    return ev.where(F.col("epoch_id") == epoch)


def test_merge_rejects_probe_missing_written_bucket(spark, tmp_path):
    lake = ParquetLakeTable(spark, str(tmp_path / "t"), n_buckets=8)
    e0 = _events(spark, 0)
    lake.merge_into(e0, 0)
    before = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in lake.read().select("conv_id", "turn_idx", "text").collect()
    )
    # a stale/foreign probe: drop one genuinely-touched bucket from the
    # real probe of epoch 1's batch
    e1 = _events(spark, 1)
    good = lake.probe_batch(e1)
    assert len(good) > 1
    bad = dict(good)
    bad.pop(sorted(bad)[0])
    with pytest.raises(RuntimeError, match="probe never"):
        lake.merge_into(e1, 1, probe=bad)
    # nothing committed: epoch 1 absent, state byte-identical
    assert 1 not in lake.committed_epochs()
    after = sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in lake.read().select("conv_id", "turn_idx", "text").collect()
    )
    assert after == before
    # and the honest probe still applies cleanly afterwards
    lake.merge_into(e1, 1, probe=good)
    assert 1 in lake.committed_epochs()


def test_schema_files_published_atomically(spark, tmp_path, monkeypatch):
    lake = ParquetLakeTable(spark, str(tmp_path / "s"), n_buckets=4)
    e0 = _events(spark, 0)
    lake.merge_into(e0, 0)
    # evolution epoch: new column forces a v2 schema file
    e1 = _events(spark, 1).withColumn("model", F.lit("m"))
    lake.merge_into(e1, 1)
    d = os.path.join(lake.root, "_schema")
    names = sorted(os.listdir(d))
    assert names == ["v0001.json", "v0002.json"]  # no .tmp- residue
    import json
    import stat

    for n in names:
        with open(os.path.join(d, n)) as fh:
            json.load(fh)  # complete, parseable
    # every atomically published JSON file is world-readable (mkstemp
    # creates 0600)
    published = [os.path.join(d, n) for n in names] + [
        os.path.join(lake.root, "_table.json"),
        os.path.join(lake.root, "_commits", "commit-00000002.json"),
    ]
    assert {stat.S_IMODE(os.stat(p).st_mode) for p in published} == {0o644}

    # a write that fails mid-file leaves neither its target nor a tmp file
    def broken_dump(obj, fh):
        fh.write("{")
        raise OSError("disk full")

    with monkeypatch.context() as mp:
        mp.setattr(json, "dump", broken_dump)
        with pytest.raises(OSError, match="disk full"):
            lake._write_schema(lake.current_schema(), 3)
    assert sorted(os.listdir(d)) == names
    assert lake.fsck()["tmp_files"] == []


def test_interval_join_rejects_uncovered_join_types(spark):
    from nifi_nlp_processor_spark.streaming.interval_join import interval_join

    df = spark.createDataFrame(
        [(1, "c")], "user_id long, event_type string"
    ).withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="interval_join supports"):
        interval_join(df, df, "user_id", ("l_", "r_"), how="full_outer")


def test_registry_is_exactly_the_gate_window():
    from nifi_nlp_processor_spark.queries import ORACLES, QUERIES

    assert len(QUERIES) == 50  # the driver gates exactly 50 rows
    assert set(QUERIES) == set(ORACLES)
    assert "cdc_schema_evolution" in QUERIES
    assert "stream_interval_join_both" in QUERIES


def test_plans_md_audits_exactly_the_registry():
    import re

    from nifi_nlp_processor_spark.queries import QUERIES

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path) as fh:
        sections = re.findall(r"^## (\S+)\s*$", fh.read(), flags=re.M)
    assert len(sections) == len(set(sections))
    assert set(sections) == set(QUERIES)
