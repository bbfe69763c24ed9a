"""The scaling block reports one reading per size, chosen by a rule fixed
before the run: the steady (second full) score pass, unless the host probes
bracketing it show a throttled window.  Nothing is picked after the fact:
no min over cold and steady passes, no max over alternative inputs.  Pure
Python, no Spark.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench
from bench import build_scaling

CLEAN = [2100.0, 2200.0]


def _sample(cores: int, steady: float, cold: float, probes=CLEAN, **extra) -> dict:
    """A scale-worker sample as the worker prints it: cold and steady walls,
    each with its bracketing probes, and the steady one rejected when its
    probes read throttled."""
    s = {
        "cores": cores,
        "score_wall_cold_s": cold,
        "score_wall_s": steady,
        "probes_mb_s": {"score_wall_cold_s": CLEAN, "score_wall_s": list(probes)},
    }
    if min(probes) < 300:
        s["rejected"] = {"score_wall_s": "throttled"}
    return dict(s, **extra)


def test_throttled_size_is_rejected_and_its_pairs_are_null():
    samples = [
        _sample(2, steady=40.0, cold=41.0),
        _sample(8, steady=8.0, cold=9.0, probes=[120.0, 2000.0]),
        _sample(32, steady=4.0, cold=4.5),
    ]
    sj = build_scaling(samples, [])["score_job"]
    assert sj["walls_s"] == {"2": 40.0, "32": 4.0}
    assert sj["pairs"] == {"2->8": None, "8->32": None}
    assert sj["efficiency"] is None and sj["headline_pair"] == "2->8"
    # the rejected reading stays on record with its probes
    kept = build_scaling(samples, [])["samples"][1]
    assert kept["rejected"] == {"score_wall_s": "throttled"}
    assert kept["score_wall_s"] == 8.0


def test_only_the_steady_wall_is_reported():
    # the cold passes are faster here: a min over passes would report them
    samples = [
        _sample(2, steady=44.0, cold=40.0, er_wall_s=500.0, er_wall_cold_s=450.0),
        _sample(8, steady=12.0, cold=10.0, er_wall_s=160.0, er_wall_cold_s=150.0),
    ]
    out = build_scaling(samples, [])
    sj = out["score_job"]
    assert sj["walls_s"] == {"2": 44.0, "8": 12.0}
    assert sj["pairs"] == {"2->8": round(44.0 / 12.0 / 4, 3)}
    assert sj["pairs_per_sec"]["8"] == round(bench.SCALE_PAIRS / 12.0, 1)
    ep = out["er_pipeline"]
    assert ep["walls_s"] == {"2": 500.0, "8": 160.0}
    assert ep["efficiency"] == round(500.0 / 160.0 / 4, 3)


def test_big_pass_reading_is_ignored():
    # a 64M-pair pass whose 8->32 reading beats the 16M one must not replace it
    big = {"score_big_pairs": 64_000_000}
    samples = [
        _sample(8, steady=12.0, cold=13.0, score_wall_big_s=40.0, **big),
        _sample(32, steady=6.0, cold=6.5, score_wall_big_s=12.0, **big),
    ]
    sj = build_scaling(samples, [])["score_job"]
    assert sj["pairs"] == {"8->32": round(12.0 / 6.0 / 4, 3)}
    assert sj["pairs_scored"] == bench.SCALE_PAIRS
    assert "big" not in sj and "pair_pairs_scored" not in sj


def test_failed_size_keeps_the_headline_pair_fixed():
    samples = [_sample(8, steady=12.0, cold=13.0), _sample(32, steady=6.0, cold=6.5)]
    sj = build_scaling(samples, [{"cores": 2, "error": "timeout"}])["score_job"]
    assert sj["headline_pair"] == "2->8" and sj["efficiency"] is None
    assert sj["pairs"]["8->32"] == 0.5


def test_stamp_rejects_a_reading_when_either_probe_is_throttled(monkeypatch):
    monkeypatch.setattr(bench, "host_probe", lambda: 150.0)
    rec = {"score_wall_s": 10.0}
    assert bench.stamp(rec, "score_wall_s", 2000.0) == 150.0
    assert rec["probes_mb_s"] == {"score_wall_s": [2000.0, 150.0]}
    assert rec["rejected"] == {"score_wall_s": "throttled"}
    assert rec["score_wall_s"] == 10.0 and bench.accepted(rec, "score_wall_s") is None

    monkeypatch.setattr(bench, "host_probe", lambda: 2000.0)
    clean = {"score_wall_s": 10.0}
    bench.stamp(clean, "score_wall_s", 300.0)
    assert "rejected" not in clean and bench.accepted(clean, "score_wall_s") == 10.0
