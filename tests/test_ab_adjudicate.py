"""``tools/ab_adjudicate.py --perfbench``'s verdict over paired
perfbench results (no Spark, no subprocess)."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "ab_adjudicate.py")
_spec = importlib.util.spec_from_file_location("ab_adjudicate", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

METRICS = [{"name": "read_p50_s", "better": "lower"},
           {"name": "events_per_s", "better": "higher"}]


def _run(seed, side, read, eps):
    return {"seed": seed, "side": side, "correct": True, "attempted": 9,
            "failed": 0, "metrics": {
                "read_p50_s": {"value": read, "unit": "s"},
                "events_per_s": {"value": eps, "unit": "1/s"}}}


def test_perfbench_verdict_pairs_by_seed_and_direction():
    a_read = [2.0, 2.2, 2.4, 2.1, 2.3]
    b_read = [1.6, 1.8, 2.5, 1.7, 1.9]
    runs = []
    for i, (x, y) in enumerate(zip(a_read, b_read)):
        # B runs first on odd seeds, as the harness alternates
        pair = [_run(i, "a", x, 100.0), _run(i, "b", y, 100.0 + i)]
        runs += pair if i % 2 == 0 else pair[::-1]
    v = ab._perfbench_verdict(runs, METRICS)
    read = v["read_p50_s"]
    assert (read["median_a"], read["median_b"]) == (2.2, 1.8)
    assert read["pairs_better"] == 4 and read["pairs"] == 5
    assert read["median_ratio_b_over_a"] == 1.8 / 2.2  # per-pair ratios
    q1, q3 = read["iqr_a"]
    assert q1 < 2.2 < q3 and read["gain_exceeds_iqr_a"] is (0.4 > q3 - q1)
    # higher is better: the seed-0 pair ties, every other pair is better
    eps = v["events_per_s"]
    assert eps["pairs_better"] == 4
    assert eps["gain_exceeds_iqr_a"] is True  # A's spread is 0


def test_perfbench_runs_the_benchmark_length_alternating(
    tmp_path, monkeypatch, capsys
):
    """Every run lasts tree A's ``run_seconds``; the tree that runs
    first alternates from seed to seed."""
    import argparse
    import json

    (tmp_path / "BENCHMARK.json").write_text(json.dumps(
        {"run_seconds": 7, "end_to_end": METRICS}))
    calls = []

    def once(tree, workload, seed, seconds, env):
        calls.append((tree, seed, seconds))
        side = "a" if tree == str(tmp_path) else "b"
        return _run(seed, side, 2.0, 100.0)

    monkeypatch.setattr(ab, "_perfbench_once", once)
    ab._perfbench_main(argparse.Namespace(
        tree_a=str(tmp_path), tree_b="/tree-b", perfbench="mor_read_mix",
        seeds=[1, 2], env_a=[], env_b=[]))
    a, b = str(tmp_path), "/tree-b"
    assert calls == [(a, 1, 7), (b, 1, 7), (b, 2, 7), (a, 2, 7)]
    out = json.loads(capsys.readouterr().out)
    assert out["seconds"] == 7 and len(out["runs"]) == 4
