"""Pure-Python tests for the ladder analysis tools (no Spark).

The scaling gate's evidence chain runs through scripts/ladder_report.py
(pooling + best-of-N efficiency) — pin its timed-wall recovery so a
format drift in leg artifacts can't silently mis-pool warm-ups as timed
runs (which would overstate efficiency in either direction).
"""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys

import pytest

_SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


def _load(name: str, base: pathlib.Path = _SCRIPTS):
    spec = importlib.util.spec_from_file_location(name, base / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_timed_walls_drops_warmups():
    lr = _load("ladder_report")
    # modern leg: 1 warm-up + 2 timed, wall_sec == min(timed)
    run = {"all_walls": [700.0, 455.8, 301.2], "wall_sec": 301.2}
    assert lr.timed_walls(run) == [455.8, 301.2]
    # round-2-era leg: 1 warm-up + 1 timed
    run = {"all_walls": [962.2, 125.2], "wall_sec": 125.2}
    assert lr.timed_walls(run) == [125.2]
    # degenerate: a single recorded wall is its own timed run
    run = {"all_walls": [88.8], "wall_sec": 88.8}
    assert lr.timed_walls(run) == [88.8]


def test_report_pools_and_computes_best_of_n_efficiency(tmp_path):
    art = {
        "runs": [
            {
                "master": "local-cluster[2,4,10240]",
                "n_executors": 2,
                "turns": 1000,
                "wall_sec": 200.0,
                "all_walls": [300.0, 250.0, 200.0],
                "runs_detail": [
                    {"wall_sec": w, "phase_seconds": {"p": w / 2}}
                    for w in (300.0, 250.0, 200.0)
                ],
            },
            {
                "master": "local-cluster[8,4,10240]",
                "n_executors": 8,
                "turns": 1000,
                "wall_sec": 60.0,
                "all_walls": [100.0, 80.0, 60.0],
                "runs_detail": [
                    {"wall_sec": w, "phase_seconds": {"p": w / 2}}
                    for w in (100.0, 80.0, 60.0)
                ],
            },
        ]
    }
    p = tmp_path / "ladder.json"
    p.write_text(json.dumps(art))
    out = subprocess.run(
        [sys.executable, str(_SCRIPTS / "ladder_report.py"), str(p)],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    # best-of-N: 200 s vs 60 s -> eff = 200 / (4 * 60) = 0.833
    assert "efficiency 2 -> 8 executors: 0.833" in out
    # pooled timed walls (sorted ascending) exclude the 300/100 warm-ups
    assert "[200.0, 250.0]" in out and "[60.0, 80.0]" in out
    # per-phase table present with best timed-phase values (100.0 vs 30.0)
    assert "100.00" in out and "30.00" in out and "3.33x" in out


def test_ladder_profile_best_run_excludes_warmup_and_picks_min():
    lp = _load("ladder_profile")
    runs = [
        {
            "n_executors": 2,
            "all_walls": [900.0, 300.0, 200.0],
            "wall_sec": 200.0,
            "runs_detail": [
                {"wall_sec": 900.0, "phase_seconds": {"p": 9.0}},  # warm-up
                {"wall_sec": 300.0, "phase_seconds": {"p": 3.0}},
                {"wall_sec": 200.0, "phase_seconds": {"p": 2.0}},
            ],
        },
        {
            "n_executors": 2,
            "all_walls": [150.0, 400.0, 500.0],  # warm-up happened fastest
            "wall_sec": 400.0,
            "runs_detail": [
                {"wall_sec": 150.0, "phase_seconds": {"p": 1.5}},  # warm-up
                {"wall_sec": 400.0, "phase_seconds": {"p": 4.0}},
                {"wall_sec": 500.0, "phase_seconds": {"p": 5.0}},
            ],
        },
    ]
    best = lp.best_run(runs, 2)
    # NOT the chronologically-last (500.0), NOT the warm-up (150.0):
    # the fastest TIMED run across legs
    assert best["wall_sec"] == 200.0


def test_bench_compare_noise_vs_regression(tmp_path):
    """bench.py --compare's mechanical verdict: a uniform slowdown (host
    window) is 'noise-band' no matter how large; a single query moving on
    its own is flagged by name; sub-second wobble below the absolute
    floor is never flagged."""
    bench = _load("bench", _SCRIPTS.parent)

    ref = {
        "value": 20.0,
        "queries": {"q_big": 6.0, "q_mid": 3.0, "q_small": 0.3,
                    "q_other": 2.0, "q_more": 1.5},
    }
    ref_path = tmp_path / "ref.json"
    ref_path.write_text(json.dumps(ref))

    # uniform 1.4x: host-shaped, nothing flagged
    cur = {q: t * 1.4 for q, t in ref["queries"].items()}
    c = bench._compare(cur, str(ref_path))
    assert c["verdict"] == "noise-band"
    assert abs(c["host_factor_median_ratio"] - 1.4) < 0.01

    # one query 3x while the rest hold: flagged by name
    cur = dict(ref["queries"])
    cur["q_big"] = 18.0
    c = bench._compare(cur, str(ref_path))
    assert c["flagged"] == ["q_big"]
    assert c["verdict"].startswith("regression: q_big")

    # sub-second query doubles (0.3 -> 0.6): under the 0.5 s floor
    cur = dict(ref["queries"])
    cur["q_small"] = 0.6
    assert bench._compare(cur, str(ref_path))["verdict"] == "noise-band"

    # disjoint query sets are reported, not crashed on
    cur = {"q_new": 1.0, "q_big": 6.0, "q_mid": 3.0, "q_other": 2.0,
           "q_more": 1.5, "q_small": 0.3}
    c = bench._compare(cur, str(ref_path))
    assert c["only_in_current"] == ["q_new"]


@pytest.mark.parametrize(
    "ref",
    [
        {"value": 20.0},  # no queries dict at all
        {"parsed": {"value": 20.0, "queries": None}},  # wrapped, not a dict
        {"value": 20.0, "queries": {"q_gone": 1.0}},  # nothing in common
    ],
)
def test_bench_compare_fails_fast_on_bad_reference(tmp_path, ref):
    """A reference without per-query timings, or with no query in common,
    exits non-zero instead of returning a default 'noise-band' verdict."""
    bench = _load("bench", _SCRIPTS.parent)
    ref_path = tmp_path / "ref.json"
    ref_path.write_text(json.dumps(ref))
    with pytest.raises(SystemExit) as exc:
        bench._compare({"q_big": 6.0}, str(ref_path))
    assert exc.value.code not in (0, None)
