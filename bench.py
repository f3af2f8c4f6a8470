"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to every CPU this process may run on.

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec", "cores": N,
   "queries": {...}, "sf": ..., "transcripts": {...}}

Each query is materialized fully via the noop sink (measures the whole
plan, not just the driver's first row). Per-query headlines are the min
over POOLED quiet trials across all invocations of the current library
code hash at this core count (bench/headline_results.json) — steal-gating
alone cannot see co-tenant memory-bandwidth interference, pooling can
outlast it. The transcripts block carries pairwise F1/precision/recall vs
datagen truth alongside throughput.

This file is also the one measurement harness: ``session``,
``time_transcripts``, ``timed``, ``quiet_min`` and ``_code_version`` are
shared with bench/scaling.py (N-vs-4N-cores scaling evidence, BENCH.md).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from erbench.proc import steal_pct, steal_sample  # noqa: E402

_HEADLINE_POOL = os.path.join(_REPO, "bench", "headline_results.json")

# A trial is "quiet" when host steal took <1% of machine capacity during
# its window. Back-to-back bench invocations were measured to disagree by
# >2x under a sustained steal window; quiet trials agree.
_QUIET_STEAL_PCT = 1.0
TIMED_ROUNDS = 3
EXTRA_ROUNDS = 3


def _code_version() -> str:
    """Content hash of the measured library — trials may only be POOLED
    across invocations when they measured identical pipeline code.
    Pooling across a code change would mix two pipelines into one min."""
    h = hashlib.sha256()
    pkg = os.path.join(_REPO, "record_matcher_spark")
    for root, _dirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(name.encode())
                    h.update(f.read())
    return h.hexdigest()[:10]


def _pool_headlines(
    hist: dict, code_hash: str, cores: int, sf: str, trials: dict[str, list]
) -> tuple[dict, dict[str, float], list[str]]:
    """Merge this invocation's per-query [sec, steal_pct] trials into the
    cross-invocation pool for (code_hash, cores, sf), MUTATING ``hist``,
    and return (the pool entry, per-query pooled headline, names whose
    pool has no quiet trial). Headline = :func:`quiet_min`. Trials
    of another code hash or core count live under their own key and are
    never mixed (unit-pinned in tests/test_bench_pool.py).
    """
    key = f"{code_hash}@{cores}"
    entry = hist.get(key) or {"sf": {}, "invocations": 0}
    sf_entry = entry["sf"].setdefault(sf, {})
    for name, ts in trials.items():
        sf_entry.setdefault(name, []).extend(ts)
    entry["invocations"] += 1
    hist[key] = entry
    pooled: dict[str, float] = {}
    noisy: list[str] = []
    for name, ts in sf_entry.items():
        best = quiet_min(ts)
        pooled[name] = best[0]
        if not is_quiet(best[1]):
            noisy.append(name)
    return entry, pooled, noisy


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = session(cores, cores)

    import __spark_entry__ as entry_mod

    bench_queries = [
        "match_exact",
        "match_fuzzy",
        "match_jw",
        "dedup_exact",
        "doc_token_stats",
        "window_argmax",
        "blocking_join",
        "connected_components",
    ]
    qs = entry_mod.queries()
    trials: dict[str, list] = {}
    # Steady-state + interference-robust protocol (the old per-query
    # best-of-2 reported phantom regressions that isolated re-runs
    # disproved — a single interference window hit both trials of one
    # query):
    # - round 0 executes every query once, untimed: the first execution
    #   of each query class pays whole-stage-codegen JIT and Python UDF
    #   worker start-up; a long-lived cluster pays both once.
    # - then TIMED_ROUNDS round-robin passes over ALL queries, each trial
    #   with its host-steal share (:func:`timed`), because sustained
    #   cross-VM interference can cover a whole invocation —
    #   interleaving alone can't absorb that.
    # - up to EXTRA_ROUNDS more passes re-run only the queries that have
    #   no quiet trial yet.
    # - the per-query headline is pooled across invocations by
    #   _pool_headlines; a query that never saw a quiet window is listed
    #   under "noisy" so the reader knows the number is an upper bound.
    #   Per-trial [sec, steal_pct] pairs are emitted under "trials".
    def _has_quiet(name: str) -> bool:
        return any(is_quiet(sp) for _, sp in trials.get(name, []))

    dfs = {n: qs[n](spark, sf_dir) for n in bench_queries if n in qs}
    for rnd in range(TIMED_ROUNDS + 1 + EXTRA_ROUNDS):
        for name, df in dfs.items():
            if rnd == 0:
                df.write.format("noop").mode("overwrite").save()
                continue  # JIT warm-up pass, untimed
            if rnd > TIMED_ROUNDS and _has_quiet(name):
                continue  # adaptive extension: only steal-tainted queries
            trials.setdefault(name, []).append(
                timed(lambda df=df: df.write.format("noop").mode("overwrite").save())
            )
        if rnd >= TIMED_ROUNDS and all(_has_quiet(n) for n in dfs):
            break

    # north-star throughput: transcript ER pipeline, conversations/sec,
    # with pairwise quality vs datagen truth reported alongside so a
    # config-driven cluster-count shift is self-evidently a quality gain
    # or loss, not a silent drift. The reference-semantics resolve stage
    # is exercised by the tabular match_* queries above.
    from record_matcher_spark.datagen import generate_transcripts

    n_entities = {"0.001": 200, "0.01": 1000, "0.1": 8000}.get(sf, 8000)
    t_df, truth = generate_transcripts(
        spark, n_entities, seed=42, num_partitions=cores * 2
    )
    run = time_transcripts(t_df, truth, TIMED_ROUNDS, EXTRA_ROUNDS)
    trials["transcripts_match"] = run["trials"]

    # Cross-invocation pooling keyed by library code hash and core count:
    # co-tenant memory-bandwidth interference is invisible to steal, and
    # noise is one-sided, so the min over a LARGER same-code sample is a
    # strictly tighter upper bound on quiet-machine time.
    hist: dict = {}
    if os.path.exists(_HEADLINE_POOL):
        with open(_HEADLINE_POOL) as f:
            hist = json.load(f)
    _emit_result(
        hist, _code_version(), cores, sf, trials,
        run["convs"], run["clusters"], run["quality"],
    )
    with open(_HEADLINE_POOL, "w") as f:
        json.dump(hist, f, indent=1)


def _emit_result(
    hist: dict,
    code_hash: str,
    cores: int,
    sf: str,
    trials: dict[str, list],
    n_convs: int,
    n_clusters: int,
    quality: dict[str, float],
) -> dict:
    """Pool this invocation's ``trials`` into ``hist`` (mutated, see
    :func:`_pool_headlines`), print the ONE JSON result line and return
    it. Headline per query = pooled min (this invocation's trials are in
    the pool); ``trials`` must hold ``transcripts_match``."""
    entry, pooled, noisy = _pool_headlines(hist, code_hash, cores, sf, trials)
    timings = {name: pooled[name] for name in trials}
    out = {
        "metric": "headline_queries_total_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "cores": cores,
        "queries": timings,
        "trials": trials,
        "noisy": noisy,
        "sf": sf,
        "pooled": {
            "code_hash": code_hash,
            "invocations": entry["invocations"],
            "n_trials": {name: len(ts) for name, ts in entry["sf"][sf].items()},
        },
        "transcripts": {
            "conversations": n_convs,
            "clusters": n_clusters,
            "conversations_per_sec": round(
                n_convs / timings["transcripts_match"], 1
            ),
            "f1": round(quality["f1"], 5),
            "precision": round(quality["precision"], 5),
            "recall": round(quality["recall"], 5),
        },
    }
    print(json.dumps(out))
    return out


# -- harness pieces shared with bench/scaling.py ----------------------------


def local_dir() -> str:
    """Scratch root for shuffle files and bench/scaling.py's corpus."""
    return os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/rm-spark-local")


def session(cores: int, shuffle_partitions: int):
    """The measurement SparkSession: local[cores], AQE at the library
    default, driver heap a quarter of the box's physical memory."""
    from record_matcher_spark.session import get_spark

    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    extra = {
        "spark.ui.enabled": "false",
        "spark.driver.memory": f"{phys_mb // 4}m",
        # Throughput GC: G1's write barriers + concurrent refinement were
        # measured to double the CPU of allocation-heavy shuffle stages at
        # high thread counts; ParallelGC is the standard batch choice.
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        # Keep collect_list rollups in the object hash map: the default
        # fallback (128 keys/task) degrades to serialize-sort-merge, which
        # triples the rollup stage's memory traffic (per-stage numbers:
        # erbench/run.py --workload transcripts_batch --trace 1). Per-task
        # state here = a partition's conversations — bounded by input
        # partition sizing.
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "131072",
    }
    # Shuffle scratch on RAM-disk when available: a VM's single shared
    # block device serializes concurrent shuffle writes (measured 137 s ->
    # 77 s for one 32-thread job). Production clusters use per-executor NVMe.
    if os.path.isdir(os.path.dirname(local_dir()) or "/"):
        extra["spark.local.dir"] = local_dir()
    spark = get_spark(
        app_name=f"record_matcher_spark-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle_partitions,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(run) -> list[float]:
    """[wall sec, host-steal % of machine capacity] of one ``run()``.
    Steal is time the hypervisor did not schedule this VM's vCPUs — the
    one signal that separates other tenants' load from our own."""
    s0 = steal_sample()
    t0 = time.perf_counter()
    run()
    dt = time.perf_counter() - t0
    return [round(dt, 3), round(steal_pct(s0, steal_sample()), 2)]


def is_quiet(steal: float | None) -> bool:
    return (steal or 0.0) < _QUIET_STEAL_PCT


def quiet_min(trials: list) -> list:
    """The fastest [sec, steal_pct] trial among the quiet ones, else
    among all: noise on a shared VM is one-sided (it only ever slows a
    run down), so the min is the tightest upper bound on quiet time."""
    quiet = [t for t in trials if is_quiet(t[1])]
    return min(quiet or trials, key=lambda t: t[0])


def time_transcripts(t_df, truth, rounds: int, extra_rounds: int = 0) -> dict:
    """Time ``match_transcripts(edge_mode="threshold")`` over ``t_df``.

    The input is cached clustered by conv_id into the session's shuffle
    partition count (the Iceberg bucket layout a production corpus uses:
    the rollup groupBy and the x-side scoring join reuse it, so the turn
    payload is never shuffled inside the timed pipeline). One untimed run
    pays whole-stage-codegen JIT (measured ~6x CPU on the pair-scoring
    stage cold vs warm; a long-lived cluster compiles a job's classes
    once) and is scored against ``truth``. Then ``rounds`` timed runs,
    plus up to ``extra_rounds`` more until one is quiet.
    """
    from record_matcher_spark.pipeline import match_transcripts, pairwise_f1

    parts = int(t_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    t_df = t_df.repartition(parts, "conv_id").cache()
    t_df.count()
    res = match_transcripts(t_df, edge_mode="threshold")
    quality = pairwise_f1(res.clusters, truth, res.candidates)
    n_clusters = res.clusters.select("cluster_id").distinct().count()
    res.unpersist()

    def _run() -> None:
        r = match_transcripts(t_df, edge_mode="threshold")
        r.clusters.select("cluster_id").distinct().count()
        r.unpersist()

    trials = [timed(_run) for _ in range(rounds)]
    while len(trials) < rounds + extra_rounds and not any(
        is_quiet(sp) for _, sp in trials
    ):
        trials.append(timed(_run))
    t_df.unpersist()
    return {
        "trials": trials,
        "convs": truth.select("conv_id").distinct().count(),
        "clusters": n_clusters,
        "quality": quality,
    }


if __name__ == "__main__":
    main()
