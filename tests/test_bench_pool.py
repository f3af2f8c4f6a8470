"""Unit tests for the bench harness: bench/scaling.py's cross-invocation
trial pooling and over-subscription refusal, bench.py's headline pool.

Pooling exists because interference noise on this VM is one-sided and
arrives in multi-minute windows (BENCH.md protocol): the min over a
larger same-config/same-code sample is a strictly tighter upper bound
on the quiet-machine time. These tests pin the two safety rules:

1. trials POOL only when protocol config AND library code hash match;
2. the pooled best recomputes with the same quiet-trial preference the
   single-run path uses, and every trial stays visible in the report.

Pure Python — no SparkSession.
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "rm_bench_scaling", os.path.join(REPO, "bench", "scaling.py")
)
scaling = importlib.util.module_from_spec(spec)
spec.loader.exec_module(scaling)


def _entry(lo_secs, hi_secs, lo_steals, hi_steals, convs=1000, trials=None):
    def best(n, secs, steals):
        runs = [
            {"cores": n, "convs": convs, "sec": s,
             "convs_per_sec": round(convs / s, 1), "steal_pct": st}
            for s, st in zip(secs, steals)
        ]
        quiet = [r for r in runs if (r["steal_pct"] or 0.0) < 1.0]
        return min(quiet or runs, key=lambda r: r["sec"])

    lo, hi = best(8, lo_secs, lo_steals), best(32, hi_secs, hi_steals)
    return {
        "n_entities": 10,
        "n_lo": 8, "n_hi": 32,
        "local8": lo, "local32": hi,
        "local8_all_sec": list(lo_secs),
        "local32_all_sec": list(hi_secs),
        "local8_all_steal_pct": list(lo_steals),
        "local32_all_steal_pct": list(hi_steals),
        "best_both_quiet": lo["steal_pct"] < 1.0 and hi["steal_pct"] < 1.0,
        "scaling_efficiency_best": round(
            (hi["convs_per_sec"] / lo["convs_per_sec"]) / 4, 3
        ),
        "config": {"code_hash": "abc", "taskset_pinning": True,
                   "trials": trials or len(lo_secs)},
    }


def test_pool_concatenates_trials_and_recomputes_best():
    prior = _entry([100.0, 120.0], [40.0, 44.0], [0.1, 0.1], [0.2, 0.2])
    new = _entry([90.0, 110.0], [40.0, 30.0], [0.1, 0.1], [0.1, 5.0])
    out = scaling._pool(prior, new, 8, 32)
    # every trial visible
    assert out["local8_all_sec"] == [100.0, 120.0, 90.0, 110.0]
    assert out["local32_all_sec"] == [40.0, 44.0, 40.0, 30.0]
    # best-of prefers QUIET trials: the 30.0s hi trial has 5% steal and
    # must be skipped; best quiet hi is 40.0 (tie broken by min), best
    # quiet lo is the new 90.0
    assert out["local8"]["sec"] == 90.0
    assert out["local32"]["sec"] == 40.0
    assert out["best_both_quiet"] is True
    # efficiency recomputed over the pooled best pair, from the rounded
    # convs_per_sec exactly as the single-run path does
    assert out["scaling_efficiency_best"] == round(
        (out["local32"]["convs_per_sec"] / out["local8"]["convs_per_sec"]) / 4,
        3,
    )
    # trial count reflects the pooled sample size
    assert out["config"]["trials"] == 4


def test_pool_falls_back_to_noisy_min_when_no_quiet_trial():
    prior = _entry([100.0], [50.0], [3.0], [4.0])
    new = _entry([95.0], [45.0], [2.0], [6.0])
    out = scaling._pool(prior, new, 8, 32)
    assert out["local8"]["sec"] == 95.0
    assert out["local32"]["sec"] == 45.0
    assert out["best_both_quiet"] is False


def test_config_gate_blocks_pooling_on_code_or_config_change():
    # the merge gate in main(): pool only when prior.config equals the
    # new config with `trials` neutralized
    new_cfg = {"code_hash": "abc", "shuffle_partitions": 16, "trials": 3}

    def gate(prior_cfg):
        return scaling._poolable(prior_cfg, new_cfg)

    assert gate({"code_hash": "abc", "shuffle_partitions": 16, "trials": 6})
    # different library code -> replace, never pool
    assert not gate({"code_hash": "zzz", "shuffle_partitions": 16, "trials": 6})
    # different protocol -> replace, never pool
    assert not gate({"code_hash": "abc", "shuffle_partitions": 64, "trials": 6})
    # legacy entry without code_hash -> replace, never pool
    assert not gate({"shuffle_partitions": 16, "trials": 6})


def test_scaling_refuses_oversubscribed_pair_before_any_worker(monkeypatch):
    """A pair whose 4N exceeds the CPUs this process may run on would time
    4N threads on fewer cores; main() refuses before starting a worker
    (so before any Spark start), explicit N and default N alike."""
    import pytest

    def no_worker(*args):
        raise AssertionError("a worker was started")

    monkeypatch.setattr(scaling, "run", no_worker)
    available = len(os.sched_getaffinity(0))
    with pytest.raises(SystemExit, match=rf"local\[{4 * available}\] needs"):
        scaling.main(["2000", str(available), "2"])
    # default N = a quarter of the CPUs, at least 1: refused below 4 CPUs
    monkeypatch.setattr(scaling.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    with pytest.raises(SystemExit, match=r"local\[4\] needs 4 CPUs .* on 3"):
        scaling.main(["2000"])


# ---------------------------------------------------------------------------
# bench.py headline pooling (cross-invocation, keyed by code hash, core
# count and sf)
# ---------------------------------------------------------------------------

bench_spec = importlib.util.spec_from_file_location(
    "rm_bench_main", os.path.join(REPO, "bench.py")
)
bench = importlib.util.module_from_spec(bench_spec)
sys.modules["rm_bench_main"] = bench
bench_spec.loader.exec_module(bench)


def test_headline_pool_merges_same_hash_and_prefers_quiet():
    hist = {}
    t1 = {"q1": [[10.0, 0.1], [30.0, 5.0]], "q2": [[7.0, 9.0]]}
    _, pooled, noisy = bench._pool_headlines(hist, "h1", 4, "0.1", t1)
    assert pooled["q1"] == 10.0          # quiet trial wins
    assert pooled["q2"] == 7.0 and noisy == ["q2"]  # no quiet trial yet
    # second invocation, same code hash: pool tightens
    t2 = {"q1": [[8.0, 0.2]], "q2": [[9.0, 0.0]]}
    _, pooled, noisy = bench._pool_headlines(hist, "h1", 4, "0.1", t2)
    assert pooled["q1"] == 8.0
    assert pooled["q2"] == 9.0 and noisy == []  # quiet 9.0 beats noisy 7.0
    assert hist["h1@4"]["invocations"] == 2
    assert len(hist["h1@4"]["sf"]["0.1"]["q1"]) == 3


def test_headline_pool_never_mixes_code_hashes_or_sfs():
    hist = {}
    bench._pool_headlines(hist, "h1", 4, "0.1", {"q1": [[10.0, 0.1]]})
    _, pooled, _ = bench._pool_headlines(
        hist, "h2", 4, "0.1", {"q1": [[20.0, 0.1]]}
    )
    assert pooled["q1"] == 20.0          # h1's faster trial not visible
    _, pooled, _ = bench._pool_headlines(
        hist, "h1", 4, "0.01", {"q1": [[5.0, 0.1]]}
    )
    assert pooled["q1"] == 5.0           # own sf bucket
    assert hist["h1@4"]["sf"]["0.1"]["q1"] == [[10.0, 0.1]]


def test_headline_pool_never_mixes_core_counts():
    """Same code hash and sf at another core count is another machine
    shape: its trials must not enter this count's minimum."""
    hist = {}
    bench._pool_headlines(hist, "h1", 32, "0.1", {"q1": [[2.0, 0.1]]})
    _, pooled, _ = bench._pool_headlines(hist, "h1", 4, "0.1", {"q1": [[9.0, 0.1]]})
    assert pooled["q1"] == 9.0           # the 32-core trial is not visible
    assert hist["h1@4"]["invocations"] == 1
    assert hist["h1@32"]["sf"]["0.1"]["q1"] == [[2.0, 0.1]]


def test_emit_result_prints_one_parseable_line(capsys):
    """main()'s result assembly on stubbed timings: one JSON line that
    parses, carries the core count, headlines pooled, invocation count
    read from the pool."""
    import json

    hist = {}
    trials = {
        "match_exact": [[1.5, 0.2], [1.2, 3.0]],
        "transcripts_match": [[8.0, 0.1]],
    }
    quality = {"f1": 0.999, "precision": 1.0, "recall": 0.998}
    for invocation in (1, 2):
        out = bench._emit_result(
            hist, "h1", 4, "0.1", trials, 2000, 800, quality
        )
        lines = capsys.readouterr().out.splitlines()
        assert len(lines) == 1
        assert json.loads(lines[0]) == out
        assert out["pooled"]["invocations"] == invocation
    assert out["queries"] == {"match_exact": 1.5, "transcripts_match": 8.0}
    assert out["value"] == 9.5
    assert out["transcripts"]["conversations_per_sec"] == 250.0
    assert out["pooled"]["n_trials"] == {"match_exact": 4, "transcripts_match": 2}
    assert out["cores"] == 4
    assert "scaling" not in out
