"""Window-aware scaling-gate logic (bench.py): corroboration election,
quiet-window gating vs the committed CPU baseline, and the durable
sample history. Pure Python — no Spark session.

The failure mode these guard (BENCH_r03/r04): hypervisor
memory-bandwidth steal is invisible to the /proc/stat co-tenant meter,
so a whole sampling window can return "provably quiet" samples that
are ALL depressed 10-60% — and best-of-N + corroboration then
converges on a reproducible-but-wrong ratio. The committed quiet-host
CPU baseline is the tell (steal inflates the build's own on-CPU stall
cycles), and the durable history lets a clean window measured earlier
outvote a stolen invocation."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench


# -- best_corroborated -------------------------------------------------------


def test_corroborated_pair_elected():
    best, ok = bench.best_corroborated([100.0, 99.0, 50.0])
    assert (best, ok) == (100.0, True)


def test_singleton_spike_skipped():
    # 200 is a lucky singleton (next sample 101 < 0.95*200); the
    # corroborated value is 101 (backed by 100)
    best, ok = bench.best_corroborated([200.0, 101.0, 100.0])
    assert (best, ok) == (101.0, True)


def test_nothing_corroborates():
    best, ok = bench.best_corroborated([200.0, 100.0, 40.0])
    assert (best, ok) == (200.0, False)
    assert bench.best_corroborated([]) == (None, False)
    assert bench.best_corroborated([7.0]) == (7.0, False)


# -- choose_level_stat -------------------------------------------------------

BASE = 92.0  # committed quiet cpu_sec for the level
CLEAN = BASE * 1.05  # within the stolen factor
STOLEN = BASE * 1.6  # well past it


def test_clean_samples_preferred_over_faster_stolen():
    # a stolen window can also produce a spuriously FAST wall-clock
    # sample (e.g. page-cache luck): election must only consider clean
    # samples when any exist
    samples = [
        (3000.0, STOLEN, 0.0),  # stolen, would win on tp alone
        (2500.0, CLEAN, 0.0),
        (2450.0, CLEAN, 0.0),
    ]
    st = bench.choose_level_stat(samples, BASE)
    assert st["best"] == 2500.0
    assert st["corroborated"] is True
    assert st["window_stolen"] is False
    assert st["n_clean"] == 2 and st["n_total"] == 3


def test_all_stolen_flags_window():
    # every sample bandwidth-stolen: fall back to the corroborated
    # best of what exists, but SAY SO — the artifact must not read as
    # a clean ratio
    samples = [(1800.0, STOLEN, 0.0), (1780.0, STOLEN, 0.0)]
    st = bench.choose_level_stat(samples, BASE)
    assert st["best"] == 1800.0
    assert st["corroborated"] is True
    assert st["window_stolen"] is True
    assert st["n_clean"] == 0


def test_clean_singleton_not_converged():
    # one clean sample, un-reproduced: usable but flagged (the loop
    # keeps sampling toward the cap on this signal)
    samples = [(2500.0, CLEAN, 0.0), (1700.0, STOLEN, 0.0)]
    st = bench.choose_level_stat(samples, BASE)
    assert st["best"] == 2500.0
    assert st["corroborated"] is False
    assert st["window_stolen"] is True


def test_no_baseline_disables_gate():
    # unknown turn count -> no committed baseline -> every sample
    # participates (old behavior), nothing is called stolen
    samples = [(2500.0, 500.0, 0.0), (2450.0, 480.0, 0.0)]
    st = bench.choose_level_stat(samples, None)
    assert st["best"] == 2500.0
    assert st["window_stolen"] is False
    assert st["n_clean"] == 2


def test_min_cpu_is_pooled_min():
    samples = [(2500.0, CLEAN, 0.0), (1700.0, STOLEN, 0.0)]
    st = bench.choose_level_stat(samples, BASE)
    assert st["min_cpu_sec"] == round(CLEAN, 1)


# -- durable history ---------------------------------------------------------


def test_history_roundtrip_and_key_isolation(tmp_path):
    p = str(tmp_path / "hist" / "scaling.jsonl")
    bench.append_history("k1", 300000, 1, 2742.4, 92.3, 0.0, path=p)
    bench.append_history("k1", 300000, 4, 9871.2, 88.1, 0.1, path=p)
    bench.append_history("k1", 60000, 1, 999.0, 20.0, 0.0, path=p)  # wrong turns
    bench.append_history("k2", 300000, 1, 111.0, 92.0, 0.0, path=p)  # wrong code
    h = bench.load_history("k1", 300000, path=p)
    assert set(h) == {1, 4}
    assert h[1] == [(2742.4, 92.3, 0.0)]
    assert h[4] == [(9871.2, 88.1, 0.1)]
    # corrupt line is skipped, not fatal
    with open(p, "a") as f:
        f.write("{not json\n")
    assert bench.load_history("k1", 300000, path=p) == h


def test_history_missing_file_is_empty(tmp_path):
    assert bench.load_history("k1", 300000, path=str(tmp_path / "no.jsonl")) == {}


def test_history_outvotes_stolen_invocation(tmp_path):
    """End-to-end shape of the rescue: a stolen invocation's samples
    pooled with a prior clean corroborated pair elect the clean pair."""
    p = str(tmp_path / "scaling.jsonl")
    # prior quiet-window evidence
    bench.append_history("k", 300000, 1, 2700.0, 92.0, 0.0, path=p)
    bench.append_history("k", 300000, 1, 2650.0, 93.5, 0.0, path=p)
    hist = bench.load_history("k", 300000, path=p)
    # today's window: uniformly depressed, self-corroborating
    current = [(1800.0, 150.0, 0.0), (1790.0, 148.0, 0.0)]
    st = bench.choose_level_stat(current + hist[1], 92.0)
    assert st["best"] == 2700.0
    assert st["corroborated"] is True
    assert st["window_stolen"] is False


# -- engine digest -----------------------------------------------------------


def test_engine_digest_stable_and_hexish():
    d1, d2 = bench._engine_digest(), bench._engine_digest()
    assert d1 == d2
    assert len(d1) == 16
    int(d1, 16)  # hex


def test_history_entry_shape(tmp_path):
    p = str(tmp_path / "s.jsonl")
    bench.append_history("k", 300000, 4, 9871.23, 88.08, 0.123, path=p)
    e = json.loads(open(p).read())
    assert e == {
        "key": "k", "turns": 300000, "level": 4, "tp": 9871.2,
        "cpu_sec": 88.1, "cotenant": 0.12, "ts": e["ts"],
    }
    assert isinstance(e["ts"], int)


def test_engine_digest_modules_equal_import_closure():
    """The digest module list must equal the transitive
    flame_spark-internal import closure of the measured build path —
    if an import drifts outside the list, the digest would call
    changed code 'identical' and pool incomparable history samples."""
    import ast

    base = os.path.join(REPO, "flame_spark")

    def internal_imports(mod):
        path = os.path.join(base, f"{mod}.py")
        if not os.path.exists(path):
            return set()
        out = set()
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.ImportFrom):
                if node.level == 1 and node.module:
                    out.add(node.module.split(".")[0])
                elif node.module and node.module.startswith("flame_spark."):
                    out.add(node.module.split(".")[1])
            elif isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith("flame_spark."):
                        out.add(a.name.split(".")[1])
        return out

    roots = {"fastbuild", "corpus", "data", "session", "config"}
    seen, frontier = set(roots), set(roots)
    while frontier:
        nxt = set()
        for m in frontier:
            nxt |= internal_imports(m)
        frontier = nxt - seen
        seen |= nxt
    assert sorted(seen) == sorted(bench.ENGINE_DIGEST_MODULES), (
        "build-path import closure drifted — update ENGINE_DIGEST_MODULES "
        "(this invalidates accumulated .bench_history samples, as it must)"
    )
