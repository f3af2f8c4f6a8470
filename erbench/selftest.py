"""Self-test of the benchmark's output path at toy size.

Runs every workload end to end (about 50 entities, a 150-row customer
table, stream folds of a few conversations), untraced and traced, parses
the single result line of each run and checks it against BENCHMARK.json:
every metric present with its unit, every value a finite number, all
correctness checks passed, no dropped stages, and the traced layers of
each workload busy. It also checks that run.py fails without printing a
result in a directory holding only BENCHMARK.json and the benchmark.

    python3 erbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layers whose Spark work each workload executes (resolve in the
# transcript paths only builds a plan: threshold mode never runs it)
BUSY = {
    "transcripts_batch": ("rollup", "blocking", "scoring", "cluster"),
    "tabular_match": ("scoring", "resolve"),
    "transcripts_stream": ("rollup", "blocking", "scoring", "cluster",
                           "incremental", "streaming"),
}


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "erbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def check_result(workload: str, trace: int, spec: dict) -> list[str]:
    p = run(ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: keys {sorted(out)}")
    if out["correct"] is not True or out["failed"] != 0 or out["attempted"] < 1:
        errs.append(f"{where}: correct={out['correct']} failed={out['failed']}"
                    f" attempted={out['attempted']}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = out["metrics"]
    if set(got) != set(want):
        errs.append(f"{where}: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want.get(name):
            errs.append(f"{where}: {name} unit {m.get('unit')!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{where}: {name} value {v!r}")
    if trace:
        if got["trace.dropped_stages"]["value"] != 0:
            errs.append(f"{where}: dropped stages")
        for layer in BUSY[workload]:
            for f in ("wall_s", "jobs", "rows_out"):
                if not got[f"{layer}.{f}"]["value"] > 0:
                    errs.append(f"{where}: {layer}.{f} is 0")
    return errs


def check_bare_dir() -> list[str]:
    """run.py must fail, printing no result, without the library."""
    bare = os.path.join(ROOT, ".erbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "erbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(bare, "tabular_match", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"bare directory: exit {p.returncode}, stdout {p.stdout!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_bare_dir()
    for workload in BUSY:
        for trace in (0, 1):
            e = check_result(workload, trace, spec)
            print(f"{'FAIL' if e else 'ok  '} {workload} --trace {trace}",
                  flush=True)
            errs += e
    for e in errs:
        print(e)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
