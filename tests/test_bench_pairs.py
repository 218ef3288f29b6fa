"""``scripts/bench_pairs.py``'s aggregation, on canned run results (no
Spark): medians and quartiles per side, the B/A ratio, pairs won in each
metric's ``better`` direction, the move against A's quartile spread, and
the flags for a failed check, failed operations and a missing result."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "bench_pairs.py")
_spec = importlib.util.spec_from_file_location("bench_pairs", _PATH)
bench_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_pairs)

SPEC = {
    "end_to_end": [
        {"name": "events_per_s", "better": "higher", "bound": 0.24},
        {"name": "commit_latency_s_p50", "better": "lower", "bound": 0.24},
    ]
}


def _run(eps, lat, correct=True, failed=0):
    return {"correct": correct, "attempted": 10, "failed": failed, "metrics": {
        "events_per_s": {"value": eps}, "commit_latency_s_p50": {"value": lat},
    }}


def test_compare_medians_ratio_pairs_won_and_iqr():
    pairs = {
        1: {"a": _run(100, 2.0), "b": _run(130, 1.5)},
        2: {"a": _run(110, 2.2), "b": _run(120, 2.4)},
        3: {"a": _run(90, 1.8), "b": _run(125, 1.6)},
        4: {"a": _run(105, 2.1), "b": _run(100, 1.7)},
    }
    out = bench_pairs.compare(pairs, SPEC)
    assert out["flags"] == []
    eps, lat = out["rows"]
    assert eps["metric"] == "events_per_s" and eps["pairs"] == 4
    # statistics.quantiles(n=4), exclusive method: [90, 100, 105, 110]
    assert eps["a"] == (92.5, 102.5, 108.75)
    assert eps["b"][1] == 122.5
    assert eps["ratio"] == pytest.approx(122.5 / 102.5)
    assert eps["won"] == 3  # higher is better: seeds 1, 2, 3
    assert eps["beyond_a_iqr"]  # 20 > 16.25
    assert lat["won"] == 3  # lower is better: seeds 1, 3, 4
    assert lat["ratio"] == pytest.approx(1.65 / 2.05)
    assert lat["a"] == pytest.approx((1.85, 2.05, 2.175))
    assert lat["beyond_a_iqr"]  # 0.4 > 0.325


def test_compare_flags_bad_runs_and_skips_them():
    pairs = {
        1: {"a": _run(100, 2.0), "b": _run(130, 1.5, correct=False)},
        2: {"a": _run(110, 2.2, failed=3), "b": _run(120, 2.4)},
        3: {"a": _run(90, 1.8), "b": None},
    }
    out = bench_pairs.compare(pairs, SPEC)
    assert out["flags"] == [
        "seed 1 b: correct=False failed=0/10",
        "seed 2 a: correct=True failed=3/10",
        "seed 3 b: no result",
    ]
    # a pair with no result drops out; flagged runs still count
    assert [r["pairs"] for r in out["rows"]] == [2, 2]


def test_load_pairs_reads_last_json_line_per_side(tmp_path):
    import json

    for seed, side, eps in ((1, "a", 100), (1, "b", 120), (2, "b", 130)):
        (tmp_path / f"bulk_replay.s{seed}.{side}.txt").write_text(
            "input bulk_replay seed=1\ncheck {}\n" + json.dumps(_run(eps, 1.0)) + "\n"
        )
    (tmp_path / "bulk_replay.s2.a.txt").write_text("")
    (tmp_path / "trickle_stream.s1.a.txt").write_text(json.dumps(_run(1, 1.0)))
    pairs = bench_pairs.load_pairs(str(tmp_path), "bulk_replay")
    assert sorted(pairs) == [1, 2]
    assert pairs[1]["b"]["metrics"]["events_per_s"]["value"] == 120
    assert pairs[2]["a"] is None
    assert bench_pairs.seeds("1-3,7") == [1, 2, 3, 7]
