"""Unit tests for bench.py's window-matched pair-efficiency selection.

The scaling number the north rule gates on (crawl_eff >= 0.8 between the
N and 4N parallelism levels) is computed from legs run minutes apart on a
time-shared box.  ``paired_efficiency`` exists so the published ratio can
only come from two legs measured in the SAME host window: both legs
steal+membw gated, the low leg reproducing the cross-round best, and the
four bracketing bandwidth probes within a 15% span.  These tests pin that
selection logic — it is pure Python, so it is cheap to test exhaustively.
"""

import importlib.util
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def _leg(urls_per_sec, gate_pass=True, pre=40.0, post=40.0, images_per_sec=100.0):
    return {
        "crawl": {
            "urls_per_sec": urls_per_sec,
            "gate_pass": gate_pass,
            "membw_pre": pre,
            "membw_post": post,
        },
        "validate": {"images_per_sec": images_per_sec},
    }


def test_probe_span_ok_accepts_tight_and_rejects_wide(bench):
    tight_a = {"membw_pre": 40.0, "membw_post": 41.0}
    tight_b = {"membw_pre": 39.0, "membw_post": 40.5}
    assert bench._probe_span_ok(tight_a, tight_b)
    # one probe 25% below the max -> the pair spans two host windows
    drifted = {"membw_pre": 30.0, "membw_post": 41.0}
    assert not bench._probe_span_ok(tight_a, drifted)


def test_paired_efficiency_picks_best_clean_round(bench):
    rounds = [
        (0, 1, _leg(1000.0)),
        (0, 4, _leg(3200.0)),  # eff 0.80
        (1, 1, _leg(1010.0)),
        (1, 4, _leg(3700.0)),  # eff ~0.916 — best clean pair
        (2, 1, _leg(990.0)),
        (2, 4, _leg(3300.0)),  # eff ~0.833
    ]
    pair_rounds, best = bench.paired_efficiency(rounds, low=1, high=4)
    assert len(pair_rounds) == 3
    assert all(p["pair_ok"] for p in pair_rounds)
    assert best["round"] == 1
    assert best["crawl_eff"] == pytest.approx(0.916, abs=0.001)


def test_depressed_low_leg_cannot_inflate_the_pair(bench):
    # round 1's low leg collapses to 64% of best-low: its ratio (1.225)
    # is an artifact of a contaminated low leg, and must be rejected even
    # though it is the highest number on the board
    rounds = [
        (0, 1, _leg(1000.0)),
        (0, 4, _leg(3000.0)),  # eff 0.75, clean
        (1, 1, _leg(640.0)),
        (1, 4, _leg(3136.0)),  # eff 1.225 off the depressed low
    ]
    pair_rounds, best = bench.paired_efficiency(rounds, low=1, high=4)
    bad = next(p for p in pair_rounds if p["round"] == 1)
    assert not bad["pair_ok"] and not bad["low_leg_reproduces"]
    assert best["round"] == 0
    assert best["crawl_eff"] == pytest.approx(0.75, abs=0.001)


def test_gate_failures_and_probe_drift_disqualify(bench):
    rounds = [
        (0, 1, _leg(1000.0)),
        (0, 4, _leg(3600.0, gate_pass=False)),  # steal/membw-gated out
        (1, 1, _leg(1000.0, pre=30.0)),  # probe 25% below the high leg's
        (1, 4, _leg(3600.0)),
    ]
    pair_rounds, best = bench.paired_efficiency(rounds, low=1, high=4)
    assert not any(p["pair_ok"] for p in pair_rounds)
    assert best is None


def test_missing_leg_rounds_are_skipped(bench):
    rounds = [(0, 1, _leg(1000.0))]  # high leg never ran
    pair_rounds, best = bench.paired_efficiency(rounds, low=1, high=4)
    assert pair_rounds == [] and best is None


def test_runs_write_only_git_ignored_files(bench, tmp_path, monkeypatch):
    """The membw ratchet writes the local calibration and reads the max of
    it and the committed one; the per-query detail of a run without a
    round number lands beside it, not on a committed round's file."""
    committed, local = tmp_path / "membw_ref.json", tmp_path / "local" / "membw_ref.json"
    committed.write_text('{"gbps": 12.0}')
    monkeypatch.setattr(bench, "_BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "_LOCAL_DIR", str(local.parent))
    monkeypatch.setattr(bench, "_MEMBW_REF_FILES", (str(committed), str(local)))
    monkeypatch.setattr(bench, "_membw_best_seen", 0.0)
    bench._membw_save_ref(9.0)
    assert bench._membw_ref() == 12.0
    bench._membw_save_ref(14.5)
    bench._membw_save_ref(13.0)
    assert committed.read_text() == '{"gbps": 12.0}'
    assert bench._membw_ref() == 14.5
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    assert bench._detail_path() == str(local.parent / "queries.json")
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert bench._detail_path() == str(tmp_path / "queries_r7.json")
