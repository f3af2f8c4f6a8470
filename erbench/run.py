"""Entity-resolution benchmark: one workload, one process, local[nproc/2].

Run from the repository root:

    python3 erbench/run.py --workload transcripts_batch --seed 1 \
        --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (see erbench/README.md). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; earlier lines starting
with ``# op`` carry per-op diagnostics (steal share, Spark jobs, shuffle
bytes). ``--size toy`` runs the self-test sizes.
"""

from __future__ import annotations

import time

_PERF0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import zlib  # noqa: E402
from contextlib import nullcontext  # noqa: E402

from proc import ProcTree, running, steal_pct, steal_sample  # noqa: E402
from spans import Tracer, group_totals, median_layers  # noqa: E402


def _since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return max(up - start / os.sysconf("SC_CLK_TCK"), 0.0)


# perf_counter value at process start: setup_s is measured from here
T0 = _PERF0 - _since_process_start()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("transcripts_batch", "tabular_match", "transcripts_stream")

# Input sizes. "full" is what the timed runs use; "toy" is the self-test.
SIZES = {
    "full": {"batch_entities": 1000, "customers": 2000, "twin": False,
             "stream_entities": 540, "stream_folds": 4, "fold_convs": 100},
    "toy": {"batch_entities": 50, "customers": 150, "twin": True,
            "stream_entities": 50, "stream_folds": 4, "fold_convs": 10},
}
F1_GATE = 0.99  # ROADMAP hard gate on the batch pipeline
MIN_OPS = 3  # timed ops per run, however long they take


class CheckFailed(Exception):
    """An op ran but its output failed a correctness check."""


# -- quality ------------------------------------------------------------


def cluster_quality(clusters, entity, candidates=None) -> dict[str, float]:
    """Pairwise and per-record quality of ``clusters`` [conv_id,
    cluster_id] against ``entity`` (conv_id -> entity_id).

    Pairwise counts run over ``candidates`` [x_id, y_id] when given (the
    pipeline.pairwise_f1 universe: pairs the blocking keys can reach),
    else over all pairs of the clustered conversations. Per-record:
    recall is the share of records with a true partner that share a
    cluster with one; precision the share of records in a non-singleton
    cluster whose cluster-mates are all true partners.
    """
    import pandas as pd

    df = clusters.assign(entity=clusters["conv_id"].map(entity))
    n_c = df.groupby("cluster_id")["conv_id"].transform("size")
    n_e = df.groupby("entity")["conv_id"].transform("size")
    n_ce = df.groupby(["cluster_id", "entity"])["conv_id"].transform("size")
    partnered, linked = n_e > 1, n_c > 1
    rec = ((n_ce > 1) & partnered).sum() / max(partnered.sum(), 1)
    prec = ((n_ce == n_c) & linked).sum() / linked.sum() if linked.any() else 1.0
    if candidates is None:
        c2 = lambda s: (s * (s - 1) // 2).sum()  # noqa: E731
        tp = c2(df.groupby(["cluster_id", "entity"]).size())
        fp = c2(df.groupby("cluster_id").size()) - tp
        fn = c2(df.groupby("entity").size()) - tp
    else:
        a = candidates[["x_id", "y_id"]].min(axis=1)
        b = candidates[["x_id", "y_id"]].max(axis=1)
        pairs = pd.DataFrame({"a": a, "b": b}).query("a != b").drop_duplicates()
        cl = df.set_index("conv_id")["cluster_id"]
        same_p = pairs["a"].map(cl).values == pairs["b"].map(cl).values
        same_t = pairs["a"].map(entity).values == pairs["b"].map(entity).values
        tp = int((same_p & same_t).sum())
        fp = int((same_p & ~same_t).sum())
        fn = int((~same_p & same_t).sum())
    return _prf(tp, fp, fn) | {"match_precision": float(prec),
                               "match_recall": float(rec)}


def _prf(tp: int, fp: int, fn: int) -> dict[str, float]:
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"pairwise_precision": p, "pairwise_recall": r, "pairwise_f1": f1}


# -- workloads ----------------------------------------------------------


class TranscriptsBatch:
    """pipeline.match_transcripts(edge_mode="threshold") over one cached,
    conv_id-clustered datagen corpus; every op re-runs the whole job."""

    warmup_ops = 1

    def __init__(self, spark, seed: int, size: dict, parts: int) -> None:
        self.spark, self.seed, self.parts = spark, seed, parts
        self.n_entities = size["batch_entities"]

    def setup(self) -> None:
        from record_matcher_spark.datagen import generate_transcripts

        tr, truth = generate_transcripts(
            self.spark, self.n_entities, seed=self.seed,
            num_partitions=self.parts,
        )
        self.tr = tr.repartition(self.parts, "conv_id").persist()
        self.n_rows = self.tr.count()
        truth = truth.toPandas()
        self.entity = truth.set_index("conv_id")["entity_id"]
        self.n_convs = len(truth)

    def has_next(self) -> bool:
        return True

    def run(self):
        from record_matcher_spark.pipeline import match_transcripts

        res = match_transcripts(self.tr, edge_mode="threshold")
        res.clusters.count()
        return res, self.n_convs, self.n_rows

    def read(self, res):
        return res.clusters.toPandas()

    def check(self, res, out) -> dict[str, float]:
        if len(out) != self.n_convs or out["conv_id"].nunique() != self.n_convs:
            raise CheckFailed(f"{len(out)} cluster rows for {self.n_convs} convs")
        q = cluster_quality(out, self.entity, res.candidates.toPandas())
        if q["pairwise_f1"] < F1_GATE:
            raise CheckFailed(f"pairwise_f1 {q['pairwise_f1']:.5f} < {F1_GATE}")
        return q

    def release(self, res) -> None:
        res.unpersist()


def customer_table(n: int, seed: int):
    """TPC-H ``customer`` columns the match reads, dbgen-shaped: keys
    1..n, names Customer#%09d, nation uniform over 25, segment over 5."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    keys = np.arange(1, n + 1, dtype="int64")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype("int64"),
        "c_mktsegment": segs[rng.integers(0, 5, n)],
    })


class TabularMatch:
    """matcher.match_records x -> y on a TPC-H customer table: x is the
    driver contract's fuzzy perturbation, blocking on nation, Jaro-Winkler
    (Arrow pandas UDF) plus Jaccard. At toy size every op must equal the
    DuckDB twin; at full size (where the twin would cost ~4 s of every
    run's budget) every op must equal the first one."""

    warmup_ops = 2  # cheap ops whose time still falls after the first

    def __init__(self, spark, seed: int, size: dict, parts: int) -> None:
        self.spark, self.seed, self.parts = spark, seed, parts
        self.n = size["customers"]
        self.use_twin = size["twin"]
        self.expected = None  # canonical output every op must reproduce

    def setup(self) -> None:
        from __spark_entry__ import _CFG_JW, _X_FUZZY, _Y_CUST

        self.cfg = _CFG_JW
        customer = customer_table(self.n, self.seed)
        (self.spark.createDataFrame(customer).repartition(self.parts)
         .createOrReplaceTempView("customer"))
        self.x = self.spark.sql(_X_FUZZY).persist()
        self.y = self.spark.sql(_Y_CUST).persist()
        self.x.count()
        self.y.count()
        if self.use_twin:
            import duckdb

            from record_matcher_spark.plans.sql_oracle import (
                matcher_oracle_sql,
            )

            con = duckdb.connect()
            try:
                con.register("customer", customer)
                self.expected = self._canon(con.execute(
                    matcher_oracle_sql(_CFG_JW, _X_FUZZY, _Y_CUST)).df())
            finally:
                con.close()

    @staticmethod
    def _canon(df):
        cols = ["row_id", "match_status", "rows_matched", "best_score"]
        return (df[cols].astype(str).sort_values(cols)
                .reset_index(drop=True))

    def has_next(self) -> bool:
        return True

    def run(self):
        from pyspark.sql import functions as F

        from record_matcher_spark.matcher import match_records

        out = match_records(self.x, self.y, self.cfg, keep_debug=True).select(
            "row_id", "match_status",
            F.col("row(s)_matched").alias("rows_matched"),
            F.when(F.col("__rm_final") != "unmatched",
                   F.round("__rm_best_score", 6)).alias("best_score"),
            F.col("__rm_final").alias("final"),
            F.col("__rm_matched_y").alias("matched_y"),
        ).persist()
        out.count()
        return out, self.n, self.n

    def read(self, out):
        return out.toPandas()

    def check(self, out_df, out) -> dict[str, float]:
        if len(out) != self.n or out["row_id"].nunique() != self.n:
            raise CheckFailed(f"{len(out)} output rows for {self.n} x rows")
        canon = self._canon(out)
        if self.expected is None:
            self.expected = canon
        elif not canon.equals(self.expected):
            raise CheckFailed("match output differs from the "
                              + ("DuckDB twin" if self.use_twin else "first op"))
        linked = out["final"].isin(["matched", "review"])
        correct = int((linked & (out["matched_y"] == out["row_id"])).sum())
        n_linked = int(linked.sum())
        # each x row has exactly one true partner in y: itself
        q = _prf(correct, n_linked - correct, self.n - correct)
        q["match_precision"] = q["pairwise_precision"]
        q["match_recall"] = q["pairwise_recall"]
        return q

    def release(self, out) -> None:
        out.unpersist()


TURNS_PER_CONV = 18  # fold size in turns = conversations x this


def fixed_folds(ids: list[str], turns: dict[str, int], folds: int, k: int,
                t: int) -> dict[str, int]:
    """conv_id -> part: ``folds`` folds (0..folds-1) of exactly ``k``
    conversations and ``t`` turns, the rest the base (-1).

    Folds take the next ``k`` ids in order, then swap members with base
    ids until their turns add up to ``t``; so every seed folds the same
    amount of work and the per-fold rates compare across seeds.
    """
    import numpy as np

    pool = list(ids)
    part = {}
    for f in range(folds):
        chosen, pool = pool[:k], pool[k:]
        for _ in range(k):
            tc = np.array([turns[c] for c in chosen])
            d = t - int(tc.sum())
            if d == 0:
                break
            tp = np.array([turns[c] for c in pool])
            # swap that brings the fold's turns closest to t
            gap = np.abs(d - (tp[None, :] - tc[:, None]))
            i, j = np.unravel_index(int(gap.argmin()), gap.shape)
            chosen[i], pool[j] = pool[j], chosen[i]
        else:
            raise ValueError(f"fold {f}: no {k} conversations with {t} turns")
        part.update(dict.fromkeys(chosen, f))
    part.update(dict.fromkeys(pool, -1))
    return part


class TranscriptsStream:
    """Closed loop, one client: TranscriptStreamMatcher.process_batch folds
    micro-batches of a fixed size (conversations and turns) into a parquet
    state log seeded with the rest of the corpus; after each fold the
    clusters are read in full."""

    warmup_ops = 1  # one fold after the (also cold) seeding fold

    def __init__(self, spark, seed: int, size: dict, parts: int,
                 state_dir: str) -> None:
        self.spark, self.seed, self.parts = spark, seed, parts
        self.n_entities = size["stream_entities"]
        self.folds = size["stream_folds"]
        self.fold_convs = size["fold_convs"]
        self.fold_turns = size["fold_convs"] * TURNS_PER_CONV
        self.state_dir = state_dir

    def setup(self) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from record_matcher_spark.datagen import generate_transcripts
        from record_matcher_spark.streaming import TranscriptStreamMatcher

        tr, truth = generate_transcripts(
            self.spark, self.n_entities, seed=self.seed,
            num_partitions=self.parts,
        )
        truth = truth.toPandas()
        self.entity = truth.set_index("conv_id")["entity_id"]
        gen = tr.persist()
        turns = gen.groupBy("conv_id").count().toPandas()
        turns = turns.set_index("conv_id")["count"].to_dict()
        # whole conversations per part, in seeded conv_id-hash order
        ids = sorted(truth["conv_id"],
                     key=lambda c: zlib.crc32(f"{self.seed}:{c}".encode()))
        part = fixed_folds(ids, turns, self.folds, self.fold_convs,
                           self.fold_turns)
        parts = pd.DataFrame({"conv_id": list(part), "part": list(part.values())})
        self.members = parts.groupby("part")["conv_id"].apply(set).to_dict()
        self.tr = (
            gen.join(F.broadcast(self.spark.createDataFrame(parts)), "conv_id")
            .repartition(self.parts, "conv_id").persist()
        )
        self.tr.count()
        gen.unpersist()
        self.m = TranscriptStreamMatcher(self.spark, self.state_dir)
        self.m.process_batch(self._part(-1), 0)
        self.expected = set(self.members[-1])
        self.next_fold = 0

    def _part(self, p: int):
        from pyspark.sql import functions as F

        return self.tr.where(F.col("part") == p).drop("part")

    def has_next(self) -> bool:
        return self.next_fold < self.folds

    def run(self):
        f = self.next_fold
        self.next_fold += 1
        self.m.process_batch(self._part(f), f + 1)
        self.expected |= self.members[f]
        return f, self.fold_convs, self.fold_turns

    def read(self, f):
        out = self.m.clusters().toPandas()
        self.segments = self.m.state().n_batches
        return out

    def check(self, f, out) -> dict[str, float]:
        if len(out) != len(self.expected) or set(out["conv_id"]) != self.expected:
            raise CheckFailed(
                f"clusters hold {len(out)} rows, expected {len(self.expected)}"
            )
        return cluster_quality(out, self.entity)

    def release(self, f) -> None:
        pass


# -- per-op measurement ---------------------------------------------------


class Runner:
    def __init__(self, spark, wl, procs, tracer, cores: int) -> None:
        self.spark, self.wl, self.procs, self.tracer = spark, wl, procs, tracer
        self.cores = cores
        self.ops: list[dict] = []
        self.quality: dict[str, float] = {}
        self.rss_mb = 0.0

    def op(self, i: int, traced: bool) -> dict:
        sc = self.spark.sparkContext
        rec = {"op": i, "traced": traced, "ok": False}
        group = f"op#{i}"
        sc.setJobGroup(group, self.wl.__class__.__name__)
        if traced:
            self.tracer.op = i
            self.tracer.install()
        # JVM JIT compile time: a slow op may still be warming up
        jit = self.spark._jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        jit0 = jit.getTotalCompilationTime()
        s0, p0 = steal_sample(), self.procs.sample()
        t0 = time.perf_counter()
        res = None
        try:
            with self.tracer.span("op", "run") if traced else nullcontext():
                res, convs, rows = self.wl.run()
                rec["wall_s"] = time.perf_counter() - t0
                p1 = self.procs.sample()
                t1 = time.perf_counter()
                out = self.wl.read(res)
                rec["read_s"] = time.perf_counter() - t1
            rec["steal_pct"] = steal_pct(s0, steal_sample())
            rec["cpu_s"] = p1["cpu_s"] - p0["cpu_s"]
            rec["jit_s"] = (jit.getTotalCompilationTime() - jit0) / 1e3
            rec["convs_per_s"] = convs / rec["wall_s"]
            rec["rows_per_s"] = rows / rec["wall_s"]
            self.quality = self.wl.check(res, out)
            rec["ok"] = True
        except Exception as exc:  # the op fails; the run goes on
            traceback.print_exc()
            rec["error"] = f"{type(exc).__name__}: {exc}"
        finally:
            if traced:
                self.tracer.uninstall()
                self.tracer.release()
            sc.setLocalProperty("spark.jobGroup.id", None)
            if res is not None:
                self.wl.release(res)
        self.rss_mb = max(self.rss_mb, self.procs.sample()["rss_mb"])
        if traced:
            spans = [s for s in self.tracer.spans if s.op == i]
            rec["jobs"] = sum(s.stages.get("jobs", 0) for s in spans)
            rec["shuffle_write_mb"] = sum(
                s.stages.get("shuffle_write_mb", 0.0) for s in spans)
            rec["dropped_stages"] = sum(s.dropped_stages for s in spans)
        else:
            tot, dropped = group_totals(sc, group)
            rec["jobs"] = tot["jobs"]
            rec["shuffle_write_mb"] = tot["shuffle_write_mb"]
            rec["dropped_stages"] = dropped
        print("# op " + json.dumps(rec, sort_keys=True), flush=True)
        self.ops.append(rec)
        return rec

    def loop(self, seconds: float, trace: bool) -> None:
        """Closed loop for ``seconds`` and at least MIN_OPS ops; with trace,
        untraced and traced ops alternate and at least one of each runs."""
        t0 = time.perf_counter()
        i = 0
        while self.wl.has_next():
            traced = trace and i % 2 == 1
            kinds = {r["traced"] for r in self.ops}
            need = {False, True} if trace else {False}
            if (time.perf_counter() - t0 >= seconds and need <= kinds
                    and len(self.ops) >= MIN_OPS):
                break
            self.op(i, traced)
            i += 1


def end_to_end(r: Runner, setup_s: float) -> dict[str, float]:
    ok = [o for o in r.ops if o["ok"]]
    med = lambda k: statistics.median(o[k] for o in ok)  # noqa: E731
    return {
        "setup_s": setup_s,
        "convs_per_s": med("convs_per_s"),
        "rows_per_s": med("rows_per_s"),
        "fold_p50_s": med("wall_s"),
        "cpu_s": med("cpu_s"),
        "peak_rss_mb": r.rss_mb,
        **r.quality,
        "success_rate": len(ok) / len(r.ops),
    }


def per_layer(r: Runner) -> dict[str, float]:
    ok = [o for o in r.ops if o["ok"]]
    traced = [o for o in ok if o["traced"]]
    plain = [o for o in ok if not o["traced"]]
    out = median_layers([r.tracer.op_layers(o["op"], r.cores) for o in traced])
    out["streaming.log_segments"] = float(getattr(r.wl, "segments", 0))
    out["trace.overhead_frac"] = (
        statistics.median(o["wall_s"] for o in traced)
        / statistics.median(o["wall_s"] for o in plain) - 1.0
    )
    out["trace.dropped_stages"] = float(r.tracer.dropped_stages())
    out["host.steal_pct"] = statistics.median(o["steal_pct"] for o in traced)
    return out


# -- process lifecycle ------------------------------------------------------


def start_spark(work: str, cores: int):
    from record_matcher_spark.session import get_spark

    spark = get_spark(
        app_name="erbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                # JIT: C1 only, on one thread, with a 256 MB code cache
                # (with C1's default of 48 MB the JIT stayed busy for 2-10 s
                # in every stream fold); so compilation settles within the
                # warm-up ops instead of competing with the timed ones
                "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 "
                "-XX:ReservedCodeCacheSize=256m "
                # serial GC: no GC threads competing with the tasks; the
                # whole heap committed and touched at start, so the JVM's
                # resident size does not follow GC timing
                "-XX:+UseSerialGC -Xms2g -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, procs) -> None:
    """Stop Spark, end the JVM and wait until every child has exited."""
    children = procs.pids()  # before the JVM's exit reparents its workers
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    # Python workers exit on their own once the JVM is gone; after 30 s
    # any that linger are killed
    deadline = time.monotonic() + 60
    while (alive := [p for p in children if running(p)]) and \
            time.monotonic() < deadline:
        if time.monotonic() > deadline - 30:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally below: Spark stopped, work
    # removed. One that arrives while Spark starts is held until it has
    # started, since only then can its JVM be stopped and waited for.
    held = []
    signal.signal(signal.SIGTERM, lambda *_: held.append(143))
    # Everything the run writes stays under the checkout.
    out_dir = os.path.join(ROOT, ".erbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # the library is imported from the checkout, by the driver and by the
    # Python workers Spark forks
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import record_matcher_spark  # noqa: F401  (fails fast outside a checkout)

    # half of what nproc reports: the other half runs the Python workers
    # paired with each task, the JIT and GC threads and the driver
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    parts = 2 * cores
    size = SIZES[args.size]
    # JVM performance counters in process memory, not in a file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    procs = ProcTree()
    t_session = time.perf_counter()
    spark = None
    try:
        spark = start_spark(work, cores)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        if held:
            sys.exit(143)
        t_input = time.perf_counter()
        if args.workload == "transcripts_batch":
            wl = TranscriptsBatch(spark, args.seed, size, parts)
        elif args.workload == "tabular_match":
            wl = TabularMatch(spark, args.seed, size, parts)
        else:
            wl = TranscriptsStream(spark, args.seed, size, parts,
                                   os.path.join(work, "state"))
        wl.setup()
        t_warm = time.perf_counter()
        # untimed warm-up ops (codegen, JIT, Python workers); the timed
        # ops carry the correctness checks
        for _ in range(wl.warmup_ops):
            res, _, _ = wl.run()
            wl.read(res)
            wl.release(res)
        tracer = Tracer(spark, procs) if args.trace else None
        runner = Runner(spark, wl, procs, tracer, cores)
        t_timed = time.perf_counter()
        setup_s = t_timed - T0
        print("# setup " + json.dumps({
            "interpreter_s": t_session - T0, "session_s": t_input - t_session,
            "input_s": t_warm - t_input, "warmup_s": t_timed - t_warm,
        }), flush=True)
        runner.loop(args.seconds, bool(args.trace))
        failed = sum(not o["ok"] for o in runner.ops)
        if failed == len(runner.ops):
            raise RuntimeError("every op failed")
        metrics = per_layer(runner) if args.trace else end_to_end(runner, setup_s)
        if tracer is not None:
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
                json.dump({"ops": runner.ops, "spans": tracer.dump()}, f)
    finally:
        if spark is not None:
            stop_spark(spark, procs)
        shutil.rmtree(work, ignore_errors=True)
    units = _units()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runner.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
