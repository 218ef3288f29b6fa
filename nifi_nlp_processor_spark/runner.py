"""CDC apply loop: epochs → quarantine → enrich → LWW dedupe → MERGE.

The engine's hot path (SURVEY §4.3):

    change events (epoch)
      → validity split (dead-letter quarantine, never fail the batch; the
        DLQ write runs on its own thread beside the merge)
      → optional vectorized enrichment (mapInPandas, Arrow batches)
      → LWW dedupe (partial+final agg — skew-safe)
      → LakeTable.merge_into (bucket copy-on-write, atomic manifest)
      → epoch metrics + LSN watermarks appended to the ledger

Exactly-once: the lake manifest records committed epoch ids; re-running an
epoch (restart, at-least-once re-delivery in foreachBatch) is a structural
no-op. This is the micro-batch generalization of the reference's per-record
session.commit() / idempotent set-union merge (PontusNLPProcessor.java:363;
PontusProcessorBase.java:303-327).

Batch mode (``apply_epochs``) drives the same per-epoch function the
streaming mode (``stream_apply``) hands to foreachBatch — one code path to
test, two delivery mechanisms.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from nifi_nlp_processor_spark.lake import MergeMetrics, ParquetLakeTable
from nifi_nlp_processor_spark.operators.quarantine import split_valid, validity


@dataclass
class EpochResult:
    epoch_id: int
    merge: MergeMetrics
    quarantined: int = 0
    # ``{"buckets_compacted": n}`` when this epoch's MoR write folded n full
    # delta chains (``CdcEngine.auto_compact_deltas``), else None
    compacted: dict | None = None


@dataclass
class CdcEngine:
    lake: ParquetLakeTable
    quarantine_dir: str | None = None
    enrich: Callable[[DataFrame], DataFrame] | None = None
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    # "cow" rewrites touched buckets per epoch (read-optimal); "mor" appends
    # per-bucket LWW-deduped deltas without reading the target
    # (write-optimal — O(batch) bytes/epoch; see lake.merge_into)
    merge_mode: str = "cow"
    # "window" = one-shuffle merge (default); "agg" = max_by partial+final
    # aggregation whose map-side combine absorbs per-key duplicate storms
    # (see lake module docstring for the trade-off)
    lww_strategy: str = "window"
    # MoR deltas accumulate until compaction and the read-time fold scans
    # every delta in a bucket's chain; with a threshold k set, no bucket's
    # chain reaches k: the epoch that would fill a chain folds it into a
    # new base in the same write and commit (lake.merge_into max_deltas),
    # so read cost stays bounded without an external maintenance scheduler
    # or a second job (Iceberg analogue: commit.manifest.min-count-to-merge-
    # style inline maintenance). None = manual compaction only.
    auto_compact_deltas: int | None = None
    results: list[EpochResult] = field(default_factory=list)
    # the one long-lived thread DLQ writes run on, beside the merge
    _dlq_pool: ThreadPoolExecutor | None = field(default=None, init=False, repr=False)
    # the split's expressions, built once per cutover (a Column is an
    # unresolved expression; building one costs py4j round trips)
    _split_exprs: dict = field(default_factory=dict, init=False, repr=False)

    def apply_epoch(
        self,
        batch: DataFrame,
        epoch_id: int,
        probe: dict[int, tuple[int, int]] | None = None,
    ) -> EpochResult:
        """Apply one micro-batch. Safe to call twice with the same epoch_id.
        ``probe``: a precomputed ``lake.probe_batch`` result over this
        batch's valid rows (``apply_epochs`` passes the grouped probe's) —
        skips the inline probe job of a merge that probes (see
        ``lake.merge_into``).

        Critical path: the DLQ write is submitted to the engine's DLQ
        thread and runs beside the merge; ``merge_into`` waits for it just
        before publishing, so a published commit still implies its rejects
        are durable, and a failed DLQ write leaves the epoch uncommitted.
        ``EpochResult.quarantined`` is the exact reject count, observed on
        the DLQ write itself. A MoR epoch that would fill a delta chain
        folds it in the same write (``auto_compact_deltas``): one job, one
        commit."""
        if epoch_id in self.lake.committed_epochs():
            res = EpochResult(epoch_id=epoch_id, merge=MergeMetrics(epoch_id=epoch_id, skipped=True))
            self.results.append(res)
            return res

        valid, bad = self._split(batch)
        dlq = None
        if self.quarantine_dir is not None:
            # DLQ write (REL_FAILURE analogue) beside the merge
            dlq = self._submit_dlq(bad.withColumn("_epoch_id", F.lit(epoch_id)))

        # Probe the post-quarantine, PRE-enrichment frame: the probe still
        # scans only (bucket-key, lsn) — never text or the UDF stage — but
        # excludes DLQ-routed rows, so (a) a quarantined row with a null
        # lsn can never poison the probe's max() (a None watermark would
        # crash the merge after the data write, before the commit), (b) a
        # null bucket key never marks an unrelated bucket touched (write
        # amplification under a steady trickle of malformed events), and
        # (c) the commit watermarks mean "applied-through" — an LSN-based
        # resume reading them never skips a quarantined-then-fixed event.
        probe_src = valid
        if self.enrich is not None:
            valid = self.enrich(valid)

        # No separate dedupe pass: merge_into's LWW aggregation groups by
        # the same key and resolves intra-batch duplicates in the same
        # max_by it uses against the target — a standalone lww_dedupe here
        # would add a second full shuffle per epoch for nothing (the
        # operator remains available for standalone use).
        try:
            metrics = self.lake.merge_into(
                valid, epoch_id, probe_src=probe_src, mode=self.merge_mode,
                lww=self.lww_strategy, probe=probe, side_write=dlq,
                max_deltas=self.auto_compact_deltas,
            )
        finally:
            if dlq is not None:
                # no Spark job of this epoch outlives the call, even when
                # the merge failed before awaiting the DLQ write
                wait([dlq])
        res = EpochResult(
            epoch_id=epoch_id, merge=metrics,
            quarantined=dlq.result() if dlq is not None else 0,
            compacted={"buckets_compacted": metrics.buckets_folded} if metrics.buckets_folded else None,
        )
        self.results.append(res)
        return res

    def _split(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(valid, rejected) rows of ``batch``, the valid side past the
        snapshot cutover.

        Snapshot-cutover filter: after a bootstrap, every event at or
        below the snapshot LSN is already reflected in the loaded state and
        MUST be dropped — LWW alone cannot save the one bad case: a key
        deleted BEFORE the snapshot has no tombstone in it (the snapshot is
        live rows only), so a stale lsn<=W event for that key would
        re-insert it. The cutover is read from the head manifest
        (``lake.bootstrap_lsn``), which the bootstrap commit itself stamped,
        so a restarted engine on the same root enforces it too."""
        cutover = self.lake.bootstrap_lsn
        exprs = self._split_exprs.get(cutover)
        if exprs is None:
            reason = validity(list(self.key_cols))
            past = F.col("lsn") > int(cutover) if cutover is not None else None
            exprs = self._split_exprs[cutover] = (reason, past)
        reason, past = exprs
        valid, bad = split_valid(batch, reason=reason)
        if past is not None:
            valid = valid.where(past)
        return valid, bad

    def _submit_dlq(self, bad: DataFrame) -> Future:
        """Write ``bad`` (tagged with its ``_epoch_id``) to the DLQ on the
        engine's one DLQ thread; the future's result is the exact row
        count, observed on the write (no extra job). Each epoch's rejects
        are one ``_epoch_id=`` partition, replaced whole by a dynamic
        partition overwrite, so a retried epoch writes them once, not
        twice. The task is wrapped where it is submitted, so its Spark job
        runs under the caller's job group and local properties."""
        if self._dlq_pool is None:
            self._check_dlq_layout()
            self._dlq_pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="dlq")
        quarantine_dir = self.quarantine_dir

        def _write() -> int:
            obs = Observation()
            bad.observe(obs, F.count(F.lit(1)).alias("n")).write.partitionBy(
                "_epoch_id"
            ).mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(
                quarantine_dir
            )
            return int(obs.get["n"])

        return self._dlq_pool.submit(inheritable_thread_target(self.lake.spark)(_write))

    def _check_dlq_layout(self) -> None:
        """Refuse a DLQ written before rejects were partitioned by epoch:
        that layout keeps its parquet files at the root with ``_epoch_id``
        as a column, and Spark cannot read them together with the
        ``_epoch_id=`` partition dirs written now."""
        legacy = glob.glob(os.path.join(self.quarantine_dir, "*.parquet"))
        if legacy:
            raise ValueError(
                f"quarantine_dir {self.quarantine_dir} holds {len(legacy)} parquet "
                "file(s) at its root, the DLQ layout from before per-epoch "
                "partitions; upgrading it in place is unsupported: move each "
                "file under an _epoch_id=<n>/ dir named for the epoch that "
                "rejected its rows"
            )

    def bootstrap(
        self, snapshot: DataFrame, as_of_lsn: int, epoch_id: int = -1
    ) -> EpochResult:
        """Initial-load handoff (Debezium's snapshot-then-stream cutover):
        load a consistent point-in-time snapshot — plain table state with
        NO lsn/op columns, consistent as of ``as_of_lsn`` — into an empty
        lake, then tail the change stream from any point at or before the
        snapshot with full overlap tolerance.

        Every snapshot row is stamped ``lsn = as_of_lsn, op = 'I'``; the
        cutover is stamped in the snapshot's own commit manifest (and
        carried forward by every later commit), and ``apply_epoch``
        thereafter drops events with ``lsn <= as_of_lsn`` (see ``_split``
        for why the filter is required for correctness, not an
        optimization). The load and its cutover are one atomic publish: a
        crash leaves either an empty lake or a bootstrapped one. Tail events
        above the cutover win LWW against the snapshot stamp as usual. The
        snapshot load is itself one idempotent epoch: O(snapshot) bytes
        written once, shuffled only on the bucket key — at 10^10 events
        this replaces replaying the entire history.

        ``epoch_id`` defaults to -1: streaming batch ids count up from 0,
        so the snapshot's ledger entry can never collide with (and silently
        swallow) the tail's first micro-batch.
        """
        if self.lake.committed_epochs():
            raise ValueError("bootstrap requires an empty lake (no committed epochs)")
        src = snapshot.withColumn(
            "lsn", F.lit(int(as_of_lsn)).cast("long")
        ).withColumn("op", F.lit("I"))
        self.lake.bootstrap_lsn = int(as_of_lsn)  # stamped by the first commit
        try:
            metrics = self.lake.merge_into(
                src, epoch_id, mode=self.merge_mode, lww=self.lww_strategy
            )
        finally:
            self.lake.bootstrap_lsn = None  # unstage; a published head keeps it
        res = EpochResult(epoch_id=epoch_id, merge=metrics)
        self.results.append(res)
        return res

    def reprocess_quarantine(
        self,
        fix: Callable[[DataFrame], DataFrame],
        new_epoch_id: int,
        from_epochs: list[int] | None = None,
    ) -> EpochResult:
        """Repair loop for the dead-letter queue: read quarantined rows
        (optionally only those rejected in ``from_epochs``), run the
        caller's ``fix`` transform, and push the result through the normal
        apply path as a fresh epoch.

        Semantics that fall out of the engine rather than special cases:
        a repaired event applies with its ORIGINAL lsn, so one whose key
        was meanwhile updated by a higher LSN correctly loses LWW; rows
        the fix did not actually repair re-quarantine (the batch still
        commits); re-running the same repair epoch is a structural no-op
        (the ledger skips committed epochs). The DLQ itself is a log with
        one partition per rejecting epoch — reprocessed rows stay in it as
        history, keyed by the ``_epoch_id`` that rejected them."""
        if self.quarantine_dir is None:
            raise ValueError("engine has no quarantine_dir")
        self._check_dlq_layout()
        schema = self.lake.current_schema()
        if schema is not None and not glob.glob(os.path.join(self.quarantine_dir, "_epoch_id=*")):
            # no epoch has rejected a row, so no DLQ file holds a schema to
            # read: reprocess an empty batch of the table's columns
            extra = [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType())]
            bad = self.lake.spark.createDataFrame([], T.StructType(schema.fields + extra))
        else:
            bad = self.lake.spark.read.parquet(self.quarantine_dir)
            if from_epochs is not None:
                bad = bad.where(F.col("_epoch_id").isin([int(e) for e in from_epochs]))
            bad = bad.drop("_reject_reason", "_epoch_id")
        return self.apply_epoch(fix(bad), new_epoch_id)

    def _prefetch_probe(self, batch: DataFrame) -> dict[int, tuple[int, int]] | None:
        """The touched-bucket/watermark probe over the SAME rows
        ``apply_epoch`` would probe (post-quarantine valid rows, cutover
        filter applied) — runnable on a separate thread so the next
        epoch's probe overlaps the current epoch's merge job. ``None``
        (no job) when the merge will not probe (``lake.merge_probes``)."""
        if not self.lake.merge_probes(self.merge_mode):
            return None
        return self.lake.probe_batch(self._split(batch)[0])

    def apply_epochs(
        self,
        events: DataFrame,
        epoch_col: str = "epoch_id",
        epoch_ids: list[int] | None = None,
    ) -> list[EpochResult]:
        """Batch replay: partition the change stream by epoch and apply in
        epoch order. Epoch ids are collected (small: one per micro-batch),
        the events themselves never reach the driver; pass ``epoch_ids``
        when the caller already knows them to skip the discovery job.

        When the engine's merges probe (``lake.merge_probes``: CoW, or the
        first MoR merge into an empty table), every not-yet-committed
        epoch's touched-bucket probe is computed in ONE up-front grouped
        job (``lake.probe_epochs`` over the post-quarantine valid rows,
        same cutover filter as ``apply_epoch``): the probe is a serialized
        plan-time dependency of each CoW merge (it sizes the write salt and
        picks target buckets), so batching it pays one probe-job latency
        for the whole replay instead of one per epoch. A MoR engine on a
        table with a commit runs no probe at all — its delta merges never
        probe. An epoch the grouped probe did not return (no valid rows, or a
        source that drifted between the two scans) probes inline too: a
        missing probe must never publish an empty commit over real rows."""
        if epoch_ids is None:
            epoch_ids = sorted(
                r[0] for r in events.select(epoch_col).distinct().collect()
            )
        probes: dict[int, dict[int, tuple[int, int]]] = {}
        committed = self.lake.committed_epochs()
        todo = [int(e) for e in epoch_ids if int(e) not in committed]
        if todo and self.lake.merge_probes(self.merge_mode):
            valid = self._split(events)[0]
            # probe only the epochs this replay applies — a caller replaying
            # a prefix (warmup, resumed/phased applies) must not pay for the
            # rest, and a resumed replay must not pay for committed epochs
            probes = self.lake.probe_epochs(
                valid.where(F.col(epoch_col).isin(todo)), epoch_col
            )
        return [
            self.apply_epoch(
                events.where(F.col(epoch_col) == e), int(e), probe=probes.get(int(e))
            )
            for e in epoch_ids
        ]

    def lineage(self) -> list[dict]:
        """Per-epoch lineage from the commit ledger (rows applied, conflict
        counts, per-bucket LSN watermarks) — the metrics export the north
        rule requires."""
        return [c["metrics"] | {"watermarks": c["watermarks"]} for c in self.lake.commit_history()]

    def save_lineage(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.lineage(), fh, indent=2)


@dataclass
class MultiTableEngine:
    """Route one interleaved change stream (a binlog/WAL tails EVERY table)
    to per-table lake upserts — the Debezium→lake fan-out.

    Each table gets its own ``CdcEngine`` + lake; an epoch is applied by
    filtering the batch per table and running the normal apply path.
    Cross-table atomicity is by IDEMPOTENT RESUME, not a global lock: the
    per-table epoch ledgers mean a crash between table A's and table B's
    manifest publishes leaves A committed and B not — re-running the epoch
    (foreachBatch re-delivery or batch replay) skips A structurally and
    completes B, converging to the same state as an uninterrupted run
    (tests/test_multi_table.py proves it by killing between publishes).
    Readers of a single table always see a consistent snapshot of it; a
    cross-table read is consistent for every epoch below the min of the
    tables' committed heads.

    Scale shape: the batch is analyzed once per table with the ``table =
    'x'`` filter pushed to the (parquet/Kafka) source scan — no driver-side
    row routing, no extra shuffle beyond each table's own bucket exchange.
    Events for unknown tables are counted and dropped (or quarantined by
    the caller pre-routing) rather than failing the epoch.
    """

    engines: dict[str, CdcEngine]
    table_col: str = "table"

    def apply_epoch(self, batch: DataFrame, epoch_id: int) -> dict[str, EpochResult]:
        # deterministic table order so a crash/resume always replays the
        # same prefix. Every table's touched-bucket probe is independent of
        # every other table's merge, so they are all submitted up front on
        # a thread pool: table k's probe overlaps tables 0..k-1's merges
        # instead of serializing one probe job per table per epoch.
        from concurrent.futures import ThreadPoolExecutor

        names = sorted(self.engines)
        subs = {
            n: batch.where(F.col(self.table_col) == n).drop(self.table_col)
            for n in names
        }
        out: dict[str, EpochResult] = {}
        # pool capped: each probe is a real Spark job, and an uncapped
        # many-table engine would submit them all at once — oversubscribing
        # the scheduler and competing with the serial merges the overlap is
        # meant to hide. 4 in flight keeps the next few tables' probes warm
        # while never swamping the running merge.
        with ThreadPoolExecutor(max_workers=min(4, max(1, len(names)))) as pool:
            futs = {
                n: pool.submit(self.engines[n]._prefetch_probe, subs[n])
                for n in names
            }
            for name in names:
                out[name] = self.engines[name].apply_epoch(
                    subs[name], epoch_id, probe=futs[name].result()
                )
        return out

    def apply_epochs(
        self,
        events: DataFrame,
        epoch_col: str = "epoch_id",
        epoch_ids: list[int] | None = None,
    ) -> list[dict[str, EpochResult]]:
        if epoch_ids is None:
            epoch_ids = sorted(
                r[0] for r in events.select(epoch_col).distinct().collect()
            )
        return [
            self.apply_epoch(events.where(F.col(epoch_col) == e), int(e))
            for e in epoch_ids
        ]

    def read(self, table: str) -> DataFrame:
        return self.engines[table].lake.read()


def stream_apply(
    engine: CdcEngine,
    stream_df: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Structured Streaming delivery: readStream source → foreachBatch(apply_epoch).

    Spark's checkpoint gives at-least-once batch re-delivery; the lake's
    epoch ledger upgrades it to exactly-once. Returns the started query.
    """
    os.makedirs(checkpoint_dir, exist_ok=True)

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        engine.apply_epoch(batch_df, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


@contextmanager
def managed_stream(
    engine: CdcEngine,
    stream_df: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Managed teardown for the streaming query (L3 — the ``@OnStopped``
    analogue, PontusProcessorBase.java:296-301 / writer close
    PontusLuceneIndexWriterProcessor.java:139-143): the query is stopped on
    scope exit even when the body raises, so no orphan micro-batch keeps
    writing after the caller is gone. Safe with exactly-once: a batch
    interrupted before its manifest rename never published, and re-running
    it from the checkpoint is idempotent (the ledger skips committed
    epochs).
    """
    q = stream_apply(engine, stream_df, checkpoint_dir, trigger_once=trigger_once)
    try:
        yield q
    finally:
        if q.isActive:
            q.stop()
