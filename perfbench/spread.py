"""Spread tool for the CDC benchmark: run a set of seeds, summarize sets.

    python3 perfbench/spread.py run --workload trickle_stream --seeds 1-10 --out DIR
    python3 perfbench/spread.py report DIR [DIR2]

``run`` calls ``perfbench/run.py`` once per seed, at ``run_seconds`` of
BENCHMARK.json, and keeps each run's standard output as
``DIR/<workload>.s<seed>.t<trace>.txt``. ``report`` prints, per workload
and metric, the median, the quartiles (``statistics.quantiles(n=4)``) and
the spread (q3 - q1) / median next to the metric's bound. Given a second
set it also prints how far each median moved in the worse direction, as a
share of the first set's median. When a directory holds both untraced and
traced runs of a workload, the tracing overhead (1 - traced events/s over
untraced events/s, medians) is printed too. Stdlib only.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def cmd_run(args) -> int:
    spec = load_spec()
    os.makedirs(args.out, exist_ok=True)
    failed = 0
    for s in seeds(args.seeds):
        p = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(s),
             "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        path = os.path.join(args.out, f"{args.workload}.s{s}.t{args.trace}.txt")
        with open(path, "w") as fh:
            fh.write(p.stdout)
        last = p.stdout.strip().splitlines()[-1:] or ["(no output)"]
        print(f"seed {s}: exit {p.returncode} {last[0][:160]}", flush=True)
        failed += p.returncode != 0
    return 1 if failed else 0


def load_set(d: str) -> dict[tuple[str, int], list[dict]]:
    """(workload, trace) → result objects of the runs kept in ``d``."""
    out: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(d, "*.s*.t*.txt"))):
        workload, _seed, trace = os.path.basename(path)[: -len(".txt")].split(".")
        trace = int(trace[1:])
        with open(path) as fh:
            lines = fh.read().strip().splitlines()
        if lines:
            out.setdefault((workload, trace), []).append(json.loads(lines[-1]))
    return out


def summary(results: list[dict], metric: str) -> dict:
    vals = [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    return {"n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def cmd_report(args) -> int:
    spec = load_spec()
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = [load_set(d) for d in args.dirs]
    worst = 0.0
    for key in sorted(sets[0]):
        workload, trace = key
        first = sets[0][key]
        ok = sum(r["correct"] for r in first)
        print(f"== {workload} trace={trace}: {len(first)} runs, {ok} correct, "
              f"{sum(r['failed'] for r in first)}/{sum(r['attempted'] for r in first)} ops failed")
        for metric in first[0]["metrics"]:
            a = summary(first, metric)
            b = bounds.get(metric)
            line = (f"  {metric:38s} median={a['median']:<12.6g} q1={a['q1']:<12.6g} "
                    f"q3={a['q3']:<12.6g} spread={a['spread']:.3f}")
            if b:
                line += f" bound={b['bound']}"
                if metric != "setup_s":
                    worst = max(worst, a["spread"] / b["bound"])
            if len(sets) > 1 and key in sets[1]:
                m2 = summary(sets[1][key], metric)["median"]
                worse = (m2 - a["median"]) / a["median"] if a["median"] else 0.0
                if b and b["better"] == "higher":
                    worse = -worse
                line += f" second={m2:<12.6g} worse_by={worse:+.3f}"
                if b and worse > b["bound"]:
                    line += "  EXCEEDS BOUND"
            print(line)
        if trace == 1 and (workload, 0) in sets[0]:
            base = summary(sets[0][(workload, 0)], "events_per_s")["median"]
            traced = summary(first, "trace.events_per_s")["median"]
            print(f"  tracing overhead: {1 - traced / base:+.3f} of untraced events_per_s")
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("dirs", nargs="+")
    args = ap.parse_args()
    return cmd_run(args) if args.cmd == "run" else cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
