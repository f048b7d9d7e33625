"""Decision logic of tools/accumulate_scaling.py (the opportunistic
quiet-window sampler that fills bench.py's durable scaling history).
Pure Python — no Spark session, no real sampling: the burst policy is
exercised against synthetic level stats and a mocked measurement
path, because the thing worth pinning is WHEN it spends a sample and
WHEN it stops, not the measurement itself (which is bench.py's
scaling_one_run, already covered by test_bench_scaling_gate)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from tools import accumulate_scaling as acc


def _st(corroborated: bool, stolen: bool) -> dict:
    return {
        "best": 1000.0, "corroborated": corroborated,
        "window_stolen": stolen, "n_clean": int(not stolen),
        "n_total": 1, "min_cpu_sec": 90.0,
    }


# -- burst policy -------------------------------------------------------------


def test_narrow_prioritized_when_both_needed():
    stats = {1: _st(False, True), 4: _st(False, True)}
    assert acc.next_needed_level(stats) == 1


def test_wide_sampled_once_narrow_settled():
    stats = {1: _st(True, False), 4: _st(False, True)}
    assert acc.next_needed_level(stats) == 4


def test_no_level_needed_when_done():
    stats = {1: _st(True, False), 4: _st(True, False)}
    assert acc.next_needed_level(stats) is None
    assert acc.done(stats) is True


def test_corroborated_but_stolen_still_needs_samples():
    # a stolen window self-corroborates (the r3/r4 failure shape):
    # corroborated alone must not settle a level
    stats = {1: _st(True, True), 4: _st(True, False)}
    assert acc.done(stats) is False
    assert acc.next_needed_level(stats) == 1


# -- probe calibration state --------------------------------------------------


def test_probe_state_roundtrip(tmp_path, monkeypatch):
    monkeypatch.setattr(acc, "PROBE_STATE", str(tmp_path / "probe.json"))
    assert acc.load_min_probe() is None  # missing file -> no calibration
    acc.save_min_probe(0.1234)
    assert acc.load_min_probe() == 0.1234
    # corrupt state is treated as uncalibrated, never fatal
    with open(acc.PROBE_STATE, "w") as f:
        f.write("{nope")
    assert acc.load_min_probe() is None


# -- history integration ------------------------------------------------------


def test_level_stats_reads_benchs_history(tmp_path, monkeypatch):
    """The accumulator must elect from the SAME history file and with
    the SAME rules bench.py uses — its DONE means the driver's next
    bench invocation elects a clean pair."""
    p = str(tmp_path / "scaling.jsonl")
    monkeypatch.setattr(bench, "HISTORY_PATH", p)
    base = bench.QUIET_CPU_BASELINE[bench.SCALING_TURNS]
    # two clean corroborated samples per level
    for lvl in (1, 4):
        for tp in (1000.0, 990.0):
            bench.append_history(
                "k", bench.SCALING_TURNS, lvl, tp, base[lvl] * 1.05, 0.0,
                path=p,
            )
    stats = acc.level_stats("k")
    assert acc.done(stats) is True
    # a different digest sees nothing
    assert acc.done(acc.level_stats("other")) is False


def test_singleton_lock_excludes_second_instance(tmp_path, monkeypatch):
    """Two concurrent accumulators pollute each other's samples (their
    bursts read as co-tenant steal to each other) — the flock singleton
    must turn the second instance away while the first holds it."""
    monkeypatch.setattr(acc, "PROBE_STATE", str(tmp_path / "probe.json"))
    first = acc.acquire_singleton()
    assert first is not None
    # flock contends across independent fds even within one process
    assert acc.acquire_singleton() is None
    first.close()  # releasing the fd releases the lock
    second = acc.acquire_singleton()
    assert second is not None
    second.close()
