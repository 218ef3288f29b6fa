"""Measured process of the CDC benchmark: set-up, timed phase, checks.

    python3 perfbench/worker.py --workload W --input DIR --scratch DIR \
        --seconds S --t0 EPOCH_S --jiffies0 BUSY,STOLEN --trace 0|1 --out RESULT.json

Drives the engine only through its public API (``CdcEngine``,
``ParquetLakeTable``, ``parse_envelope``, ``extract_entities_sql``,
``fixtures``). ``--t0`` is the wall-clock time the caller launched this
process and ``--jiffies0`` the CPU accounting then; set-up time runs from
it to the first timed epoch. Every time is recorded net of hypervisor
steal (``net_of_steal``). The lake, the DLQ and ``spark.local.dir`` live
under ``--scratch``, which the caller wipes before and after. Writes one
JSON object of raw measurements; ``perfbench/run.py`` turns them into the
reported metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

# bucket counts: the bulk backlog matches the engine's default layout; the
# tail's table is small, and every tail epoch touches every bucket
BULK_BUCKETS = 32
TRICKLE_BUCKETS = 8
# enrichment of the bulk replay: three entity types of the default registry
ENTITY_TYPES = ("email", "phone", "twitterHandle")
# trickle: MoR deltas per bucket that trigger the engine's inline compaction
AUTO_COMPACT_DELTAS = 4
# The timed phase is a fixed amount of work sized from --seconds, so that
# every count (epochs, compactions, bytes) is the same on every run of a
# seed and only the times move. On a 4-vCPU VM one bulk replay takes about
# BULK_REPLAY_S and a tail epoch with its share of reads about
# 1 / TAIL_EPOCHS_PER_S seconds.
BULK_REPLAY_S = 20
TAIL_EPOCHS_PER_S = 0.5
# trickle: untimed warm-up epochs, counted in set-up: the epoch that holds
# the snapshot handoff's overlap (its events at or below the cutover are
# dropped) and one more, so the warm-up runs MoR delta writes and the merge
# plan. Every tail epoch adds one delta to every bucket, so compaction
# fires after every AUTO_COMPACT_DELTAS-th epoch. A forced snapshot read
# plus a changelog read over the last READ_EVERY commits follow once every
# READ_EVERY epochs, half-way between compactions, so the read folds
# deltas; the warm-up's read pair is untimed.
WARMUP_EPOCHS = 2
READ_EVERY = AUTO_COMPACT_DELTAS
# bulk: forced reads after each replay, and the commits the changelog spans
BULK_READS = 3
BULK_CHANGELOG_COMMITS = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(scratch: str, event_log: str | None = None) -> dict[str, str]:
    """Session settings shared by the generator and the measured process:
    every file Spark and the JVM write stays under ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed young generation, the engine's own heap size: under G1's
    # adaptive young sizing the JVM's resident size moved by a third
    # between runs of one seed
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn512m",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return conf


def peak_rss_mb() -> float:
    """Σ VmHWM of this process and every descendant (the Spark JVM and any
    Python workers it forked)."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent_of[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, pp in parent_of.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of all CPUs so far, from /proc/stat. Busy is
    user + nice + system + irq + softirq; stolen is the time the hypervisor
    held a runnable vCPU off the host CPU."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def net_of_steal(wall: float, j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """``wall`` less the share of the runnable CPU time that was stolen
    between the two ``cpu_jiffies`` readings. Other guests on a shared host
    take CPU from the run at random; without this a run's times move with
    their load. Exact for an interval that keeps a fixed number of vCPUs
    busy, and the wall time itself when nothing was stolen."""
    busy, stolen = j1[0] - j0[0], j1[1] - j0[1]
    return wall * busy / (busy + stolen) if busy + stolen > 0 else wall


class Stopwatch:
    """Times one interval net of steal."""

    def __init__(self):
        self.t, self.j = time.perf_counter(), cpu_jiffies()

    def stop(self) -> float:
        """Seconds since the start, net of steal; ``self.wall`` keeps the
        wall time."""
        self.wall = time.perf_counter() - self.t
        return net_of_steal(self.wall, self.j, cpu_jiffies())


def file_sizes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def force(df) -> None:
    """Materialize every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def table_hash(df, columns: list[str]) -> dict:
    """Row count and order-independent hash over ``columns``."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in columns])).alias("h"),
    ).collect()[0]
    return {"rows": int(r["n"]), "hash": (r["h"] or 0) & 0xFFFFFFFFFFFFFFFF}


def compare(actual, expected) -> dict:
    """The lake's live rows against the oracle's, column for column."""
    from pyspark.sql import functions as F

    cols = sorted(actual.columns)
    if sorted(expected.columns) != cols:
        return {"ok": False, "why": f"columns {sorted(expected.columns)} != {cols}"}
    types = dict(actual.dtypes)
    expected = expected.select(*[F.col(c).cast(types[c]).alias(c) for c in cols])
    a, e = table_hash(actual, cols), table_hash(expected, cols)
    return {"ok": a == e, "actual": a, "expected": e}


def lake_counters(lake, first_seq: int, dlq: str) -> dict:
    """Counts read from the lake's files for the commits after
    ``first_seq``: files per epoch commit, bytes a compaction rewrote, the
    head manifest's size and the DLQ's rows and files."""
    files_written = compact_bytes = 0
    for c in lake.commit_history():
        if c["seq"] <= first_seq:
            continue
        sizes = file_sizes(os.path.join(lake.root, "data", f"c{c['seq']:08d}"))
        parquet = [p for p in sizes if p.endswith(".parquet")]
        if c["epoch_id"] is None:
            compact_bytes += sum(sizes[p] for p in parquet)
        else:
            files_written += len(parquet)
    head = os.path.join(lake.root, "_commits", f"commit-{lake.last_commit()['seq']:08d}.json")
    dlq_files = [p for p in file_sizes(dlq) if p.endswith(".parquet")]
    return {
        "files_written": files_written,
        "compact_bytes": compact_bytes,
        "manifest_bytes": os.path.getsize(head),
        "dlq_files": len(dlq_files),
    }


def parts_per_bucket(lake) -> tuple[float, int]:
    """(median base+delta parts per bucket, longest delta chain) of the head."""
    ptrs = lake.last_commit()["buckets"].values()
    chains = [len(p.get("deltas", [])) for p in ptrs]
    return statistics.median(c + 1 for c in chains), max(chains)


class Workload:
    """One workload's set-up, timed phase and correctness check."""

    def __init__(self, spark, tracer, input_dir: str, scratch: str):
        with open(os.path.join(input_dir, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.spark, self.tr, self.input = spark, tracer, input_dir
        self.lake_dir = os.path.join(scratch, "lake")
        self.dlq = os.path.join(scratch, "dlq")
        self.r = {
            "events": 0, "apply_s": [], "latencies": [], "snapshot_reads": [],
            "changelog_reads": [], "bytes_written": 0, "epochs": 0, "passes": 0,
            "buckets_touched": [], "rows_applied": 0, "read_parts": [],
            "delta_chain_max": 0, "files_written": 0, "compact_bytes": 0,
            "manifest_bytes": 0, "dlq_files": 0,
        }

    def read_pair(self, lake, changelog_commits: int) -> tuple[float, float]:
        """A forced snapshot read and a forced changelog read over the last
        ``changelog_commits`` commits; their times net of steal."""
        with self.tr.span("bench.snapshot_read"):
            sw = Stopwatch()
            force(lake.read())
            snapshot = sw.stop()
        head = lake.last_commit()["seq"]
        with self.tr.span("bench.changelog_read"):
            sw = Stopwatch()
            force(lake.table_changes(max(1, head - changelog_commits)))
            return snapshot, sw.stop()

    def forced_reads(self, lake, changelog_commits: int) -> None:
        parts, chain = parts_per_bucket(lake)
        self.r["read_parts"].append(parts)
        self.r["delta_chain_max"] = max(self.r["delta_chain_max"], chain)
        snapshot, changes = self.read_pair(lake, changelog_commits)
        self.r["snapshot_reads"].append(snapshot)
        self.r["changelog_reads"].append(changes)

    def add_counters(self, lake, first_seq: int, engine_results) -> None:
        for k, v in lake_counters(lake, first_seq, self.dlq).items():
            self.r[k] = self.r[k] + v if k != "manifest_bytes" else v
        for res in engine_results:
            self.r["buckets_touched"].append(res.merge.buckets_touched)
            self.r["rows_applied"] += res.merge.rows_applied

    def check(self, lake, expected, injected: int) -> dict:
        out = {"table": compare(lake.read(), expected)}
        dlq_rows = self.spark.read.parquet(self.dlq).count()
        out["dlq"] = {"ok": dlq_rows == injected, "rows": dlq_rows, "injected": injected}
        out["fsck"] = {"ok": bool(lake.fsck()["ok"])}
        out["ok"] = all(v["ok"] for v in out.values())
        self.r["dlq_rows"] = dlq_rows
        return out


class BulkReplay(Workload):
    """Catch-up replay of a staged backlog: CoW, window LWW, entity
    enrichment, ``apply_epochs`` with its grouped probe. Each replay starts
    from an empty lake."""

    def engine(self, lake_dir: str, dlq: str):
        from nifi_nlp_processor_spark.functions.extractors import (
            DEFAULT_REGISTRY,
            extract_entities_sql,
        )
        from nifi_nlp_processor_spark.lake import ParquetLakeTable
        from nifi_nlp_processor_spark.runner import CdcEngine

        registry = {k: DEFAULT_REGISTRY[k] for k in ENTITY_TYPES}
        lake = ParquetLakeTable(self.spark, lake_dir, n_buckets=BULK_BUCKETS)
        return CdcEngine(
            lake=lake, quarantine_dir=dlq, merge_mode="cow", lww_strategy="window",
            enrich=lambda df: extract_entities_sql(df, registry),
        )

    def setup(self) -> None:
        self.events = self.spark.read.parquet(os.path.join(self.input, "events"))
        warm = self.spark.read.parquet(os.path.join(self.input, "warmup"))
        warm_dir = self.lake_dir + "-warmup"
        engine = self.engine(warm_dir, warm_dir + "-dlq")
        engine.apply_epochs(warm)
        # the read plans' first run (codegen, JIT) belongs to set-up too
        self.read_pair(engine.lake, BULK_CHANGELOG_COMMITS)
        shutil.rmtree(warm_dir)
        shutil.rmtree(warm_dir + "-dlq")

    def run(self, seconds: float) -> None:
        for _ in range(max(1, round(seconds / BULK_REPLAY_S))):
            shutil.rmtree(self.lake_dir, ignore_errors=True)
            shutil.rmtree(self.dlq, ignore_errors=True)
            engine = self.engine(self.lake_dir, self.dlq)
            t_call = time.time()
            sw = Stopwatch()
            engine.apply_epochs(self.events)
            net = sw.stop()
            self.r["apply_s"].append(net)
            self.r["events"] += self.manifest["events"]
            self.r["epochs"] += len(engine.results)
            self.r["passes"] += 1
            # each epoch's commit latency: the interval between successive
            # manifest publishes (the first from the call), read off the
            # ledger files so the apply loop itself is not instrumented, and
            # taken net of steal at the replay's rate
            commits = sorted(commit_files(engine.lake.root))
            marks = [t_call] + [os.stat(p).st_mtime_ns / 1e9 for p in commits]
            self.r["latencies"] += [(b - a) * net / sw.wall for a, b in zip(marks, marks[1:])]
            self.r["bytes_written"] += sum(file_sizes(self.lake_dir, self.dlq).values())
            self.add_counters(engine.lake, 0, engine.results)
            for _ in range(BULK_READS):
                self.forced_reads(engine.lake, BULK_CHANGELOG_COMMITS)
        self.lake = engine.lake

    def verify(self) -> dict:
        from nifi_nlp_processor_spark.fixtures import transcripts_from_events
        from nifi_nlp_processor_spark.functions.extractors import (
            DEFAULT_REGISTRY,
            extract_entities_sql,
        )
        typed = self.spark.read.parquet(os.path.join(self.input, "typed"))
        valid = typed.where(~typed["_bad"]).drop("_bad", "epoch_id")
        expected = extract_entities_sql(
            transcripts_from_events(valid), {k: DEFAULT_REGISTRY[k] for k in ENTITY_TYPES}
        )
        return self.check(self.lake, expected, self.manifest["injected"])


class TrickleStream(Workload):
    """Steady tail after a snapshot handoff: MoR with inline compaction,
    JSON envelopes through ``parse_envelope``, one ``apply_epoch`` per
    epoch, and a reader every READ_EVERY epochs."""

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from nifi_nlp_processor_spark.lake import ParquetLakeTable
        from nifi_nlp_processor_spark.runner import CdcEngine
        from nifi_nlp_processor_spark.sources.envelope import parse_envelope

        raw = self.spark.read.parquet(os.path.join(self.input, "tail"))
        self.batch = lambda e: parse_envelope(raw.where(F.col("epoch_id") == e).select("value"))
        self.lake = ParquetLakeTable(self.spark, self.lake_dir, n_buckets=TRICKLE_BUCKETS)
        self.engine = CdcEngine(
            lake=self.lake, quarantine_dir=self.dlq, merge_mode="mor",
            auto_compact_deltas=AUTO_COMPACT_DELTAS,
        )
        self.snapshot = self.spark.read.parquet(os.path.join(self.input, "snapshot"))
        self.engine.bootstrap(self.snapshot, self.manifest["cutover_lsn"])
        self.applied = list(range(WARMUP_EPOCHS))
        for e in self.applied:
            self.engine.apply_epoch(self.batch(e), e)
            if half_way(e):
                self.read_pair(self.lake, READ_EVERY)

    def run(self, seconds: float) -> None:
        first_seq = self.lake.last_commit()["seq"]
        before = file_sizes(self.lake_dir, self.dlq)
        by_epoch = self.manifest["events_by_epoch"]
        n_results = len(self.engine.results)
        n_epochs = max(READ_EVERY, round(seconds * TAIL_EPOCHS_PER_S))
        n_epochs = min(n_epochs, self.manifest["epochs"] - WARMUP_EPOCHS)
        for e in range(WARMUP_EPOCHS, WARMUP_EPOCHS + n_epochs):
            sw = Stopwatch()
            self.engine.apply_epoch(self.batch(e), e)
            self.r["latencies"].append(sw.stop())
            self.r["events"] += by_epoch[str(e)]
            self.applied.append(e)
            if half_way(e):
                self.forced_reads(self.lake, READ_EVERY)
        self.r["apply_s"] = [sum(self.r["latencies"])]
        self.r["epochs"] = len(self.r["latencies"])
        self.r["passes"] = 1
        after = file_sizes(self.lake_dir, self.dlq)
        self.r["bytes_written"] = sum(s for p, s in after.items() if p not in before)
        self.add_counters(self.lake, first_seq, self.engine.results[n_results:])

    def verify(self) -> dict:
        from pyspark.sql import functions as F

        from nifi_nlp_processor_spark.fixtures import transcripts_from_events

        cutover = self.manifest["cutover_lsn"]
        tail = self.spark.read.parquet(os.path.join(self.input, "typed"))
        tail = tail.where(F.col("epoch_id").isin(self.applied))
        valid = tail.where(~F.col("_bad") & (F.col("lsn") > cutover)).drop("_bad", "epoch_id")
        snap = self.snapshot.select(
            F.lit(cutover).cast("long").alias("lsn"), F.lit("I").alias("op"), *self.snapshot.columns
        )
        expected = transcripts_from_events(snap.unionByName(valid))
        injected = sum(self.manifest["injected_by_epoch"].get(str(e), 0) for e in self.applied)
        return self.check(self.lake, expected, injected)


def half_way(epoch: int) -> bool:
    """Whether tail epoch ``epoch`` leaves every bucket half-way between
    compactions (epochs count from 0, each adding one delta)."""
    return (epoch + 1) % READ_EVERY == READ_EVERY // 2


def commit_files(root: str) -> list[str]:
    d = os.path.join(root, "_commits")
    return [os.path.join(d, f) for f in os.listdir(d) if f.startswith("commit-")]


WORKLOADS = {"bulk_replay": BulkReplay, "trickle_stream": TrickleStream}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--input", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--jiffies0", required=True, help="busy,stolen at --t0")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from nifi_nlp_processor_spark.session import build_session

    from perfbench.trace import NullTracer, Tracer, layer_metrics, read_event_log

    event_log = os.path.join(args.scratch, "eventlog") if args.trace else None
    spark = build_session(
        f"cdc-bench-{args.workload}", cores=cores(),
        extra_conf=session_conf(args.scratch, event_log),
    )
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        tracer.install()
    wl = WORKLOADS[args.workload](spark, tracer, args.input, args.scratch)
    with tracer.span("bench.setup"):
        wl.setup()
    setup_wall = time.time() - args.t0
    j0 = tuple(int(x) for x in args.jiffies0.split(","))
    setup_s = net_of_steal(setup_wall, j0, cpu_jiffies())
    log(f"set-up done at {setup_wall:.1f}s")
    j_timed = cpu_jiffies()
    with tracer.span("bench.timed"):
        wl.run(args.seconds)
    j_end = cpu_jiffies()
    rss = peak_rss_mb()
    log(f"timed phase done at {time.time() - args.t0:.1f}s")
    with tracer.span("bench.check"):
        check = wl.verify()
    log(f"check done at {time.time() - args.t0:.1f}s")
    busy, stolen = j_end[0] - j_timed[0], j_end[1] - j_timed[1]
    out = wl.r | {"setup_s": setup_s, "peak_rss_mb": rss, "check": check,
                  "steal_share": stolen / max(1, busy + stolen)}
    if args.trace:
        tracer.uninstall()
        spark.stop()
        stages, jobs = read_event_log(event_log)
        ctx = wl.r | {"cores": cores()}
        out["layers"] = layer_metrics(tracer.spans, stages, jobs, ctx)
        out["spans"] = tracer.spans
    else:
        spark.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
