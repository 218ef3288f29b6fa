"""Tracing for the CDC benchmark's traced run, and the per-layer rollup.

``Tracer.install`` wraps the engine's public calls at runtime (the package
is never edited). Each wrapper records an in-memory span — name, start,
end, parent, epoch — and, for its duration, sets the Spark job
description to ``"<span> e=<epoch> s=<span id>"``, restoring the outer
description on exit. The traced session writes an uncompressed Spark event
log; ``read_event_log`` (stdlib only) joins its stages to the spans by that
description and ``layer_metrics`` rolls both up into the per-layer metric
names listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager, nullcontext

# span name → (module, class, method, index of the epoch argument or None)
_WRAPPED = {
    "runner.apply_epoch": ("nifi_nlp_processor_spark.runner", "CdcEngine", "apply_epoch", 2),
    "runner.apply_epochs": ("nifi_nlp_processor_spark.runner", "CdcEngine", "apply_epochs", None),
    "runner.bootstrap": ("nifi_nlp_processor_spark.runner", "CdcEngine", "bootstrap", None),
    "lake.merge_into": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "merge_into", 2),
    "lake.probe_batch": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "probe_batch", None),
    "lake.probe_epochs": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "probe_epochs", None),
    "lake.compact": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "compact", None),
    "lake.read": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "read", None),
    "lake.table_changes": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "table_changes", None),
    "lake.committed_epochs": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "committed_epochs", None),
    "lake.last_commit": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "last_commit", None),
    "lake.commit_history": ("nifi_nlp_processor_spark.lake", "ParquetLakeTable", "commit_history", None),
    "write.parquet": ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", None),
}
LEDGER = ("lake.committed_epochs", "lake.last_commit", "lake.commit_history")
# a parquet write is named after the call it serves
_WRITE_NAMES = {
    "lake.merge_into": "lake.merge_write",
    "runner.apply_epoch": "runner.dlq_write",
    "lake.compact": "lake.compact_write",
}
_DESC = re.compile(r"^(\S+) e=(\S+) s=(\d+)$")


class Tracer:
    """Spans of one traced run, kept in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []

    @contextmanager
    def span(self, name: str, epoch=None):
        parent = self._stack[-1] if self._stack else None
        if name == "write.parquet":
            name = _WRITE_NAMES.get(parent["name"] if parent else "", name)
        if epoch is None and parent is not None:
            epoch = parent["epoch"]
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "epoch": epoch,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        outer = self.sc.getLocalProperty("spark.job.description")
        e = "-" if epoch is None else epoch
        self.sc.setJobDescription(f"{name} e={e} s={sp['id']}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.job.description", outer)

    def install(self) -> None:
        import importlib

        for name, (mod, cls_name, meth, epoch_idx) in _WRAPPED.items():
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = getattr(cls, meth)
            self._saved.append((cls, meth, orig))
            setattr(cls, meth, self._wrap(name, orig, epoch_idx))

    def uninstall(self) -> None:
        for cls, meth, orig in reversed(self._saved):
            setattr(cls, meth, orig)
        self._saved.clear()

    def _wrap(self, name, fn, epoch_idx):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            epoch = None
            if epoch_idx is not None:
                epoch = args[epoch_idx] if len(args) > epoch_idx else kwargs.get("epoch_id")
            with self.span(name, None if epoch is None else int(epoch)):
                return fn(*args, **kwargs)

        return traced


class NullTracer:
    """The untraced run: same calls, no spans, no job descriptions."""

    def span(self, name: str, epoch=None):
        return nullcontext()


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(stages, jobs) of the one finished event log in ``log_dir``.

    A stage is ``{"span": id|None, "attempt": n, "tasks": [...]}`` with
    each task's run, GC and shuffle figures; a job is ``{"span": id|None}``.
    """
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    stages: dict[tuple, dict] = {}
    jobs: list[dict] = []

    def span_of(props: dict | None):
        m = _DESC.match((props or {}).get("spark.job.description") or "")
        return int(m.group(3)) if m else None

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({"span": span_of(ev.get("Properties"))})
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = {
                    "span": span_of(ev.get("Properties")),
                    "attempt": info["Stage Attempt ID"],
                    "tasks": [],
                }
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                stages.setdefault(key, {"span": None, "attempt": key[1], "tasks": []})["tasks"].append({
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "failed": bool(ev["Task Info"].get("Failed")),
                })
    return list(stages.values()), jobs


def _p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(spans: list[dict], stages: list[dict], jobs: list[dict], ctx: dict) -> dict:
    """The per-layer metrics of one traced run.

    ``ctx`` carries what the benchmark counted itself: ``cores``,
    ``events`` and ``epochs`` of the timed phase, ``passes`` (timed replays;
    totals are per pass), and the lake/DLQ counters named in the output.
    Only spans inside a ``bench.timed`` span, and the Spark stages they
    submitted, are counted.
    """
    by_id = {s["id"]: s for s in spans}

    def chain(sid):
        """The span ``sid`` and its ancestors, innermost first."""
        s = by_id[sid]
        out = [s]
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            out.append(s)
        return out

    def below(sid, roots: set) -> bool:
        return any(a["id"] in roots for a in chain(sid))

    timed_root = {s["id"] for s in spans if s["name"] == "bench.timed"}
    timed = [s for s in spans if s["id"] not in timed_root and below(s["id"], timed_root)]
    timed_ids = {s["id"] for s in timed}
    children: dict[int, list[dict]] = {}
    for s in timed:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    def self_s(s):
        return dur(s) - sum(dur(c) for c in children.get(s["id"], []))

    def named(name):
        return [s for s in timed if s["name"] == name]

    t_stages = [st for st in stages if st["span"] in timed_ids]

    def subtree_stages(root):
        """Stages submitted by ``root`` or any span below it."""
        return [st for st in t_stages if below(st["span"], {root["id"]})]

    def run_s(sts):
        return sum(t["run_s"] for st in sts for t in st["tasks"])

    passes = max(1, ctx["passes"])
    epochs = max(1, ctx["epochs"])
    events = max(1, ctx["events"])
    apply_spans = named("runner.apply_epoch")
    merges = named("lake.merge_into")
    merge_stages = [st for m in merges for st in subtree_stages(m)]

    skews = []
    for m in merges:
        post = [st for st in subtree_stages(m) if any(t["shuffle_read"] for t in st["tasks"])]
        if post:
            times = [t["run_s"] for t in max(post, key=lambda st: len(st["tasks"]))["tasks"]]
            med = statistics.median(times)
            skews.append(max(times) / med if med > 0 else 1.0)

    idle = []
    for a in apply_spans:
        busy = run_s(subtree_stages(a))
        idle.append(max(0.0, 1.0 - busy / (ctx["cores"] * dur(a))))

    apply_roots = {s["id"] for s in timed if s["name"] in ("runner.apply_epoch", "runner.apply_epochs")}
    apply_jobs = [j for j in jobs if j["span"] in timed_ids and below(j["span"], apply_roots)]
    apply_stages = [st for st in t_stages if below(st["span"], apply_roots)]

    def read_runs(name):
        return [run_s(subtree_stages(r)) for r in named(name)]

    # ledger reads the engine makes (the benchmark's own are not counted)
    ledger = [s for s in timed if s["name"] in LEDGER and below(s["id"], apply_roots)]
    compacts = named("lake.compact")
    return {
        "runner.apply_epoch.self_s_p50": _p50([self_s(s) for s in apply_spans]),
        "runner.dlq_write_s_p50": _p50([dur(s) for s in named("runner.dlq_write")]),
        "quarantine.rows": ctx["dlq_rows"],
        "quarantine.dlq_files_per_epoch": ctx["dlq_files"] / epochs,
        "runner.apply_epochs.self_s": _p50([self_s(s) for s in named("runner.apply_epochs")]),
        "lake.ledger_calls_per_epoch": len(ledger) / epochs,
        "lake.ledger_s_per_epoch": sum(dur(s) for s in ledger) / epochs,
        "lake.manifest_bytes": ctx["manifest_bytes"],
        "lake.probe_batch_s_p50": _p50([dur(s) for s in named("lake.probe_batch")]),
        "lake.probe_epochs_s": _p50([dur(s) for s in named("lake.probe_epochs")]),
        "lake.merge_into.self_s_p50": _p50([self_s(s) for s in merges]),
        "lake.merge_write_s_p50": _p50([dur(s) for s in named("lake.merge_write")]),
        "lake.merge_write_s_total": sum(dur(s) for s in named("lake.merge_write")) / passes,
        "lake.merge_executor_run_s": run_s(merge_stages) / passes,
        "lake.merge_shuffle_bytes_per_event": sum(
            t["shuffle_write"] for st in merge_stages for t in st["tasks"]
        ) / events,
        "lake.merge_spill_bytes": sum(t["spill"] for st in merge_stages for t in st["tasks"]) / passes,
        "lake.merge_task_skew": _p50(skews),
        "lake.buckets_touched_p50": _p50(ctx["buckets_touched"]),
        "lake.files_written_per_epoch": ctx["files_written"] / epochs,
        "lake.rows_applied_per_event": ctx["rows_applied"] / events,
        "lake.compact_s_p50": _p50([dur(s) for s in compacts]),
        "lake.compact_calls": len(compacts) / passes,
        "lake.compact_bytes_rewritten": ctx["compact_bytes"] / passes,
        "lake.read_parts_p50": _p50(ctx["read_parts"]),
        "lake.delta_chain_max": ctx["delta_chain_max"],
        "lake.read_executor_run_s_p50": _p50(read_runs("bench.snapshot_read")),
        "lake.changes_executor_run_s_p50": _p50(read_runs("bench.changelog_read")),
        "spark.jobs_per_epoch": len(apply_jobs) / epochs,
        "spark.tasks_per_epoch": sum(len(st["tasks"]) for st in apply_stages) / epochs,
        "spark.executor_idle_share_p50": _p50(idle),
        "spark.gc_s": sum(t["gc_s"] for st in t_stages for t in st["tasks"]) / passes,
        "spark.task_failures": sum(t["failed"] for st in stages for t in st["tasks"]),
        "spark.stage_retries": sum(1 for st in stages if st["attempt"] > 0),
    }
