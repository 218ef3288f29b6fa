"""Watermarked stream-stream interval join (streaming/interval_join.py):
inner pairs emit in the batch where the match completes, state survives a
checkpointed restart, rows beyond the watermark are evicted from join
state, and the batch plan agrees with the drained stream."""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nifi_nlp_processor_spark.streaming import attribution_pairs  # noqa: E402

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _t(h, m):
    return datetime.datetime(2026, 3, 1, h, m)


def _write(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _drain(spark, src, out, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        attribution_pairs(stream, within="INTERVAL 30 MINUTES", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return sorted(
        (r.trigger_id, r.outcome_id, r.delay_sec)
        for r in spark.read.parquet(out).collect()
    )


def test_pairs_complete_across_restarted_batches(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    # batch 1: a click with no purchase yet -> no pair, but the click is
    # buffered in join state across the restart
    _write(spark, src, [(1, _t(10, 0), 7, "click", 0.0)])
    assert _drain(spark, src, out, ckpt) == []

    # batch 2: the purchase arrives 10 minutes later (within the interval)
    # -> the pair completes against the RESTORED state
    _write(spark, src, [(2, _t(10, 10), 7, "purchase", 9.99)])
    assert _drain(spark, src, out, ckpt) == [(1, 2, 600)]

    # batch 3: a purchase outside the 30-minute interval never pairs
    _write(spark, src, [(3, _t(10, 45), 7, "purchase", 1.0)])
    assert _drain(spark, src, out, ckpt) == [(1, 2, 600)]


def test_watermark_evicts_stale_click_state(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    # the click plus a far-future event push the watermark well past the
    # click's interval end (10:30 + 1h delay < 14:00 - 1h). State cleanup
    # runs at each batch's END with the watermark the batch STARTED with,
    # so this drain only records the 13:00 watermark...
    _write(
        spark,
        src,
        [(1, _t(10, 0), 7, "click", 0.0), (99, _t(14, 0), 8, "view", 0.0)],
    )
    assert _drain(spark, src, out, ckpt) == []

    # ...and the next batch — restored watermark 13:00 — purges the click
    # from join state during its cleanup phase
    _write(spark, src, [(98, _t(14, 5), 8, "view", 0.0)])
    assert _drain(spark, src, out, ckpt) == []

    # a purchase inside the interval but delivered after eviction finds no
    # state: the pair is lost — the documented watermark contract
    _write(spark, src, [(2, _t(10, 10), 7, "purchase", 5.0)])
    assert _drain(spark, src, out, ckpt) == []


def test_multi_match_and_batch_parity(spark, tmp_path):
    # two clicks, two purchases, all within range of each other -> 4 pairs;
    # a different user's purchase never crosses the key
    rows = [
        (1, _t(9, 0), 1, "click", 0.0),
        (2, _t(9, 5), 1, "click", 0.0),
        (3, _t(9, 10), 1, "purchase", 1.0),
        (4, _t(9, 20), 1, "purchase", 2.0),
        (5, _t(9, 10), 2, "purchase", 3.0),
    ]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write(spark, src, rows)
    got = _drain(spark, src, out, ckpt)
    assert got == [(1, 3, 600), (1, 4, 1200), (2, 3, 300), (2, 4, 900)]

    # the same operator over a batch DataFrame produces the same pairs
    batch = attribution_pairs(spark.createDataFrame(rows, SCHEMA))
    assert sorted(
        (r.trigger_id, r.outcome_id, r.delay_sec) for r in batch.collect()
    ) == got


def _drain_outer(spark, src, out, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        attribution_pairs(
            stream, within="INTERVAL 30 MINUTES", watermark="1 hour",
            how="left_outer",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    return sorted(
        (r.trigger_id, r.outcome_id, r.delay_sec)
        for r in spark.read.parquet(out).collect()
    )


def test_outer_emits_null_row_on_state_eviction(spark, tmp_path):
    """The left-outer contract: an unmatched click emits its null-padded
    row exactly when join state evicts it (watermark > click.ts + 30min),
    never before — the path the inner join never exercises."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    # click at 10:00 with no purchase; the drain's final no-data batch
    # advances the watermark to 13:00 (14:00 view - 1h) > 10:30, evicting
    # the click and emitting its outer null row within the SAME drain —
    # the cutoff the registry oracle reproduces
    _write(
        spark,
        src,
        [(1, _t(10, 0), 7, "click", 0.0), (99, _t(14, 0), 8, "view", 0.0)],
    )
    assert _drain_outer(spark, src, out, ckpt) == [(1, None, None)]

    # a later drain never re-emits the evicted click
    _write(spark, src, [(98, _t(14, 5), 8, "view", 0.0)])
    assert _drain_outer(spark, src, out, ckpt) == [(1, None, None)]

    # a matched click-purchase pair still emits eagerly, like inner
    _write(
        spark,
        src,
        [(2, _t(15, 0), 7, "click", 0.0), (3, _t(15, 10), 7, "purchase", 4.0)],
    )
    assert _drain_outer(spark, src, out, ckpt) == [(1, None, None), (2, 3, 600)]


def test_outer_matched_click_never_gets_null_row(spark, tmp_path):
    """A click whose match completed must NOT also emit a null row when
    its state later evicts (outer joins emit the null only for rows that
    matched nothing)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write(
        spark,
        src,
        [
            (1, _t(9, 0), 1, "click", 0.0),
            (2, _t(9, 10), 1, "purchase", 1.0),
            (99, _t(13, 0), 8, "view", 0.0),
        ],
    )
    assert _drain_outer(spark, src, out, ckpt) == [(1, 2, 600)]
    # advance the watermark far past the click's interval: eviction of the
    # matched click adds nothing
    _write(spark, src, [(98, _t(13, 5), 8, "view", 0.0)])
    assert _drain_outer(spark, src, out, ckpt) == [(1, 2, 600)]


def test_drain_timeout_stops_every_handle(spark, monkeypatch, tmp_path):
    """A ``_both`` streaming entry whose drain times out stops every query
    it started, not only the one that timed out: a query left running
    would have its directories deleted by the next call's scratch sweep."""
    import pytest
    from pyspark.sql.streaming.query import StreamingQuery

    from nifi_nlp_processor_spark import queries

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, _t(9, 0), 7, "click", 0.0), (2, _t(9, 10), 7, "purchase", 5.0)], SCHEMA
    ).write.parquet(f"{sf_dir}/events.parquet")
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    for entry in (queries.q_stream_interval_join_both, queries.q_sessionize_stream_both):
        with pytest.raises(TimeoutError):
            entry(spark, sf_dir)
        assert [q.name or q.id for q in spark.streams.active] == []
