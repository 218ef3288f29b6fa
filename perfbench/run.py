"""CDC benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 25 --trace 0

Run from the repository root. Stdlib only: this process starts and stops
the Spark processes and computes the metrics.

1. Stage the inputs for (workload, seed) with ``perfbench/gen.py`` unless
   ``.perfbench/inputs/<workload>-s<seed>`` already exists: the fixture
   pool once per checkout (its own JVM), then the seed's draw from it.
   Generation is never part of a measured set-up.
2. Run ``perfbench/worker.py`` untraced: set-up, ``--seconds`` of timed
   work, correctness check. The end-to-end metrics come from this run.
   With ``--trace 1`` the worker runs traced instead: its spans and Spark
   event log give the per-layer metrics, and its own throughput, set
   against the untraced runs' median, gives the tracing overhead.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
name the input fingerprint and the check's outcome. Everything the runs
write stays under ``.perfbench/``; the scratch part (lake, DLQ,
``spark.local.dir``) is wiped before and after every Spark process.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from worker import cpu_jiffies  # stdlib only, like this file

# a single Spark process may not outlive this (a run must end in 180 s)
PROCESS_TIMEOUT_S = 170

def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def end_to_end(r: dict) -> dict[str, float]:
    return {
        "setup_s": r["setup_s"],
        "events_per_s": r["events"] / sum(r["apply_s"]),
        "commit_latency_s_p50": statistics.median(r["latencies"]),
        "commit_latency_s_p90": percentile(r["latencies"], 0.9),
        "bytes_written_per_event": r["bytes_written"] / r["events"],
        "peak_rss_mb": r["peak_rss_mb"],
        "snapshot_read_s_p50": statistics.median(r["snapshot_reads"]),
        "changelog_read_s_p50": statistics.median(r["changelog_reads"]),
    }


def attempted(r: dict) -> int:
    """Epochs, reads and the correctness check of one worker run."""
    return r["epochs"] + len(r["snapshot_reads"]) + len(r["changelog_reads"]) + 1


class Runner:
    """Owns the state directory and every process it starts."""

    def __init__(self, root: str):
        self.root = root
        self.state = os.path.join(root, ".perfbench")
        self.scratch = os.path.join(self.state, "scratch")
        self.logs = os.path.join(self.state, "logs")
        os.makedirs(self.logs, exist_ok=True)
        self.env = dict(os.environ)
        self.env.update({
            "PYTHONPATH": root,
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": os.path.join(self.scratch, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(self.scratch, "spark-local"),
        })

    def wipe(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(os.path.join(self.scratch, "tmp"))

    def spawn(self, script: str, args: list[str], log: str) -> int:
        """Run one Python child in its own process group; wait for the
        whole group (the JVM it started included) to be gone."""
        with open(os.path.join(self.logs, log), "w") as fh:
            p = subprocess.Popen(
                [sys.executable, os.path.join(self.root, "perfbench", script), *args],
                cwd=self.root, env=self.env, stdout=fh, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = p.wait(timeout=PROCESS_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = -1
            finally:
                self.reap(p.pid)
        return code

    @staticmethod
    def reap(pgid: int) -> None:
        for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            deadline = time.monotonic() + wait_s
            while time.monotonic() < deadline:
                try:
                    os.killpg(pgid, 0)
                except ProcessLookupError:
                    return
                try:
                    os.waitpid(-1, os.WNOHANG)
                except ChildProcessError:
                    pass
                time.sleep(0.05)

    def inputs(self, workload: str, seed: int) -> str | None:
        """The run's input directory, staged first if it is not cached."""
        base = os.path.join(self.state, "base", workload)
        out = os.path.join(self.state, "inputs", f"{workload}-s{seed}")
        steps = [
            (base, ["base", "--workload", workload, "--out", base, "--scratch", self.scratch]),
            (out, ["derive", "--workload", workload, "--base", base, "--seed", str(seed),
                   "--out", out]),
        ]
        for path, args in steps:
            if os.path.exists(path):
                continue
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.wipe()
            code = self.spawn("gen.py", args, f"gen-{args[0]}-{workload}.log")
            self.wipe()
            if code != 0:
                return None
        return out

    def measure(self, workload: str, input_dir: str, seconds: int, trace: int) -> dict | None:
        self.wipe()
        out = os.path.join(self.state, f"result-{workload}-t{trace}.json")
        if os.path.exists(out):
            os.remove(out)
        args = ["--workload", workload, "--input", input_dir, "--scratch", self.scratch,
                "--seconds", str(seconds), "--trace", str(trace), "--out", out,
                "--t0", repr(time.time()), "--jiffies0", ",".join(map(str, cpu_jiffies()))]
        code = self.spawn("worker.py", args, f"worker-{workload}-t{trace}.log")
        self.wipe()
        if code != 0 or not os.path.exists(out):
            return None
        with open(out) as fh:
            return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", required=True, choices=("bulk_replay", "trickle_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "nifi_nlp_processor_spark", "__init__.py")):
        print("perfbench: nifi_nlp_processor_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    runner = Runner(root)
    input_dir = runner.inputs(args.workload, args.seed)
    if input_dir is None:
        print("perfbench: input generation failed; see .perfbench/logs", file=sys.stderr)
        return 1
    result = runner.measure(args.workload, input_dir, args.seconds, args.trace)
    if result is None:
        print("perfbench: the measured process failed; see .perfbench/logs", file=sys.stderr)
        return 1

    with open(os.path.join(input_dir, "manifest.json")) as fh:
        fp = json.load(fh)["input"]
    print(f"input {args.workload} seed={args.seed} rows={fp['rows']} sha256={fp['sha256']}")
    print("check " + json.dumps(result["check"]))
    # the times are net of hypervisor steal; how much the correction took out
    print(f"steal_share {result['steal_share']:.3f} of runnable CPU time in the timed phase")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        spans = os.path.join(runner.state, "traces", f"{args.workload}-s{args.seed}-spans.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        with open(spans, "w") as fh:
            json.dump(result["spans"], fh)
        print(f"spans {spans}")
        # the traced run's own throughput: set against the untraced median
        # it gives the tracing overhead (perfbench/spread.py prints it)
        values = result["layers"] | {"trace.events_per_s": end_to_end(result)["events_per_s"]}
        metrics = spec["per_layer"]
    else:
        values, metrics = end_to_end(result), spec["end_to_end"]
    correct = bool(result["check"]["ok"])
    n = attempted(result)
    print(json.dumps({
        "correct": correct,
        "attempted": n,
        "failed": 0 if correct else n,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
