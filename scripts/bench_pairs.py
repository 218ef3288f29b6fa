"""Interleaved A/B pairs of the CDC benchmark between two checkouts.

    python3 scripts/bench_pairs.py run --a PARENT --b CHANGE \\
        --workload bulk_replay --seeds 1-6 --out DIR
    python3 scripts/bench_pairs.py report DIR

``run`` runs ``perfbench/run.py --workload W --seed S --seconds N
--trace 0`` (N is ``BENCHMARK.json``'s ``run_seconds``) once per seed in
each checkout (each in its own directory, so each builds from its own
source), alternating the order: odd seeds run A first, even seeds B
first. Each run's standard output is kept as
``DIR/<workload>.s<seed>.<a|b>.txt``, and the report follows.

``report`` pairs the runs by seed and prints, for every end-to-end metric
of ``BENCHMARK.json``: the median and quartiles of each side, the ratio of
the medians (B / A), how many pairs B won (strictly better in the metric's
``better`` direction) and whether the medians moved by more than A's
quartile spread. A run whose check failed (``correct: false``) or that
failed operations is flagged. Stdlib only; it never edits ``perfbench/``.
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


def last_json(text: str) -> dict | None:
    lines = text.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    med = statistics.median(vals)
    if len(vals) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def compare(pairs: dict[int, dict[str, dict | None]], spec: dict) -> dict:
    """``pairs``: seed → {"a": result, "b": result} (a result is run.py's
    last JSON line, or None when the run printed none). Returns the flags
    (one line per bad run) and one row per end-to-end metric."""
    flags = []
    for s in sorted(pairs):
        for side in ("a", "b"):
            r = pairs[s].get(side)
            if r is None:
                flags.append(f"seed {s} {side}: no result")
            elif not r.get("correct") or r.get("failed", 0) > 0:
                flags.append(f"seed {s} {side}: correct={r.get('correct')} "
                             f"failed={r.get('failed')}/{r.get('attempted')}")
    rows = []
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        both = [
            (p["a"]["metrics"][name]["value"], p["b"]["metrics"][name]["value"])
            for _s, p in sorted(pairs.items())
            if p.get("a") and p.get("b")
            and name in p["a"]["metrics"] and name in p["b"]["metrics"]
        ]
        if not both:
            continue
        a = quartiles([x for x, _ in both])
        b = quartiles([y for _, y in both])
        won = sum((y > x) if higher else (y < x) for x, y in both)
        rows.append({
            "metric": name, "better": m["better"], "pairs": len(both),
            "a": a, "b": b, "ratio": b[1] / a[1] if a[1] else float("nan"), "won": won,
            "beyond_a_iqr": abs(b[1] - a[1]) > a[2] - a[0],
        })
    return {"flags": flags, "rows": rows}


def load_pairs(d: str, workload: str) -> dict[int, dict[str, dict | None]]:
    pairs: dict[int, dict[str, dict | None]] = {}
    for path in sorted(glob.glob(os.path.join(d, f"{workload}.s*.[ab].txt"))):
        _w, seed, side = os.path.basename(path)[: -len(".txt")].rsplit(".", 2)
        with open(path) as fh:
            pairs.setdefault(int(seed[1:]), {})[side] = last_json(fh.read())
    return pairs


def print_report(workload: str, out: dict) -> None:
    print(f"== {workload}: A = parent side, B = change side; ratio = B / A medians")
    for f in out["flags"]:
        print(f"  FLAG {f}")
    for r in out["rows"]:
        (a1, am, a3), (b1, bm, b3) = r["a"], r["b"]
        print(f"  {r['metric']:26s} A {am:<10.6g} [{a1:.6g}, {a3:.6g}]  "
              f"B {bm:<10.6g} [{b1:.6g}, {b3:.6g}]  ratio {r['ratio']:.3f}  "
              f"B won {r['won']}/{r['pairs']} ({r['better']} is better)"
              + ("  moved beyond A's IQR" if r["beyond_a_iqr"] else ""))


def cmd_run(args) -> int:
    spec = load_spec()
    os.makedirs(args.out, exist_ok=True)
    sides = {"a": os.path.abspath(args.a), "b": os.path.abspath(args.b)}
    for s in seeds(args.seeds):
        for side in ("a", "b") if s % 2 else ("b", "a"):
            p = subprocess.run(
                [*spec["command"], "--workload", args.workload, "--seed", str(s),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=sides[side], capture_output=True, text=True,
            )
            with open(os.path.join(args.out, f"{args.workload}.s{s}.{side}.txt"), "w") as fh:
                fh.write(p.stdout)
            r = last_json(p.stdout)
            eps = r["metrics"]["events_per_s"]["value"] if r and r.get("metrics") else None
            print(f"seed {s} {side}: exit {p.returncode} correct={r and r.get('correct')} "
                  f"events_per_s={eps}", flush=True)
    print_report(args.workload, compare(load_pairs(args.out, args.workload), spec))
    return 0


def cmd_report(args) -> int:
    spec = load_spec()
    for w in [w["name"] for w in spec["workloads"]]:
        pairs = load_pairs(args.dir, w)
        if pairs:
            print_report(w, compare(pairs, spec))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True, help="checkout A (the parent)")
    r.add_argument("--b", required=True, help="checkout B (the change)")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-6 or 1,4,7")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("dir")
    args = ap.parse_args()
    return cmd_run(args) if args.cmd == "run" else cmd_report(args)


if __name__ == "__main__":
    sys.exit(main())
