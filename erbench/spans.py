"""Layer spans for the traced run, recorded from the benchmark's side.

Each layer's public functions are wrapped where their caller looks them
up (the consuming module's namespace, or the stream matcher's class), so
the library runs unchanged. A wrapper:

- opens a span (layer, function, start, end, parent span, op id) and
  gives it its own Spark job group, so every job the layer launches is
  attributed to it;
- when the untraced path executes the layer's output anyway, persists and
  counts it inside the span, so the layer's Spark work runs there and not
  in whichever later action would have pulled it (``force``);
- after the span, reads the group's stage totals from the status store
  and counts stages that are missing from it as dropped.

Spans stay in memory and are written out by the caller at exit. Self time
is a span's duration minus its child spans (children run sequentially).
"""

from __future__ import annotations

import importlib
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from proc import ProcTree

LAYERS = (
    "rollup", "blocking", "scoring", "resolve", "cluster", "incremental",
    "streaming",
)
_STAGE_FIELDS = (
    "exec_cpu_s", "exec_run_s", "gc_s", "jobs", "tasks", "failed_tasks",
    "shuffle_write_mb", "spill_mb",
)
# Per-layer metric names, in output order (ratios and trace-wide figures
# are added by the caller).
LAYER_FIELDS = (
    "wall_s", "self_s", *_STAGE_FIELDS, "py_cpu_s", "idle_core_frac",
    "rows_out",
)

_ROLLUP_DROP = ("turns",)  # every caller drops it right away; never forced

# (owner, attribute, layer, force, columns to drop before forcing).
# ``resolve_matches`` in the transcript paths stays lazy: in threshold
# edge mode nothing consumes its output.
TARGETS = (
    ("record_matcher_spark.pipeline", "rollup_conversations", "rollup", True, _ROLLUP_DROP),
    ("record_matcher_spark.pipeline", "candidate_pairs", "blocking", True, ()),
    ("record_matcher_spark.pipeline", "score_candidate_pairs", "scoring", True, ()),
    ("record_matcher_spark.pipeline", "resolve_matches", "resolve", False, ()),
    ("record_matcher_spark.pipeline", "connected_components", "cluster", True, ()),
    ("record_matcher_spark.incremental", "rollup_conversations", "rollup", True, _ROLLUP_DROP),
    ("record_matcher_spark.incremental", "candidate_pairs", "blocking", True, ()),
    ("record_matcher_spark.incremental", "score_candidate_pairs", "scoring", True, ()),
    ("record_matcher_spark.incremental", "resolve_matches", "resolve", False, ()),
    ("record_matcher_spark.incremental", "connected_components", "cluster", True, ()),
    ("record_matcher_spark.matcher", "score_pairs", "scoring", True, ()),
    ("record_matcher_spark.matcher", "resolve_matches", "resolve", True, ()),
    ("record_matcher_spark.streaming", "match_increment", "incremental", True, ()),
    ("record_matcher_spark.streaming:TranscriptStreamMatcher", "clusters", "streaming", True, ()),
    ("record_matcher_spark.streaming:TranscriptStreamMatcher", "conversations", "streaming", True, ()),
)


@dataclass
class Span:
    id: int
    op: int
    layer: str
    fn: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    py_cpu_s: float = 0.0  # Python-worker CPU over the whole span
    rows_out: int = 0
    scored: int = 0
    passed: int = 0
    stages: dict = field(default_factory=dict)
    dropped_stages: int = 0


def group_totals(sc, group: str) -> tuple[dict[str, float], int]:
    """Stage totals of one job group from the status store, plus the
    number of its stages the store no longer (or not yet) holds."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store has seen every event
    store, tracker = jsc.statusStore(), sc.statusTracker()
    tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
    dropped = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            dropped += 1
            continue
        tot["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j NoSuchElementException: evicted
                dropped += 1
                continue
            if st.status().toString() in ("ACTIVE", "PENDING"):
                dropped += 1
                continue
            tot["exec_cpu_s"] += st.executorCpuTime() / 1e9
            tot["exec_run_s"] += st.executorRunTime() / 1e3
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["tasks"] += st.numCompleteTasks()
            tot["failed_tasks"] += st.numFailedTasks()
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            tot["spill_mb"] += st.diskBytesSpilled() / 1e6
    return tot, dropped


def _owner(path: str):
    mod, _, cls = path.partition(":")
    m = importlib.import_module(mod)
    return getattr(m, cls) if cls else m


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self, spark, procs: ProcTree) -> None:
        self.sc = spark.sparkContext
        self.procs = procs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, layer: str, fn: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), self.op, layer, fn,
                  parent.id if parent else None, f"{layer}#{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{layer}.{fn}")
        py0 = self.procs.sample()["py_cpu_s"]
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py_cpu_s = self.procs.sample()["py_cpu_s"] - py0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, f"{parent.layer}.{parent.fn}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            # read right after the span, before the store can evict it
            sp.stages, sp.dropped_stages = group_totals(self.sc, sp.group)

    # -- wrappers -------------------------------------------------------

    def _force(self, sp: Span, out, drop, args, kwargs):
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        if isinstance(out, DataFrame):
            df = out.drop(*drop).persist()
            self._persisted.append(df)
            cfg = next(
                (a for a in (*args, *kwargs.values())
                 if hasattr(a, "required_threshold")), None,
            )
            if sp.layer == "scoring" and cfg is not None:
                passing = F.col("row_score") >= F.lit(float(cfg.required_threshold))
                row = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(passing.cast("long")).alias("p"),
                ).first()
                sp.rows_out = sp.scored = row["n"]
                sp.passed = row["p"] or 0
            else:
                sp.rows_out = df.count()
            return df
        # IncrementResult: the fold writes its assignments right after
        df = out.assignments.persist()
        self._persisted.append(df)
        sp.rows_out = df.count()
        out.assignments = df
        return out

    def _wrap(self, fn, layer: str, force: bool, drop: tuple):
        def wrapper(*args, **kwargs):
            with self.span(layer, fn.__name__) as sp:
                out = fn(*args, **kwargs)
                if force:
                    out = self._force(sp, out, drop, args, kwargs)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        return wrapper

    def install(self) -> None:
        for path, attr, layer, force, drop in TARGETS:
            owner = _owner(path)
            orig = getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, layer, force, drop))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def release(self) -> None:
        """Unpersist what the wrappers persisted (call at op end)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- aggregation ----------------------------------------------------

    def op_layers(self, op: int, cores: int) -> dict[str, float]:
        """Per-layer totals of one traced op, flat ``layer.field`` keys."""
        spans = [s for s in self.spans if s.op == op]
        child_wall: dict[int, float] = {}
        child_py: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.end - s.start
                child_py[s.parent] = child_py.get(s.parent, 0.0) + s.py_cpu_s
        out = {f"{L}.{f}": 0.0 for L in LAYERS for f in LAYER_FIELDS}
        scored = passed = 0
        for s in spans:
            if s.layer not in LAYERS:
                continue
            pre = s.layer + "."
            out[pre + "wall_s"] += s.end - s.start
            out[pre + "self_s"] += s.end - s.start - child_wall.get(s.id, 0.0)
            out[pre + "py_cpu_s"] += s.py_cpu_s - child_py.get(s.id, 0.0)
            out[pre + "rows_out"] += s.rows_out
            for k, v in s.stages.items():
                out[pre + k] += v
            scored += s.scored
            passed += s.passed
        for L in LAYERS:
            busy = out[f"{L}.self_s"] * cores
            if busy > 0:
                out[f"{L}.idle_core_frac"] = 1.0 - out[f"{L}.exec_run_s"] / busy
        convs = out["rollup.rows_out"]
        out["blocking.cands_per_conv"] = (
            out["blocking.rows_out"] / convs if convs else 0.0
        )
        out["scoring.pass_ratio"] = passed / scored if scored else 0.0
        cpu = out["scoring.exec_cpu_s"] + out["scoring.py_cpu_s"]
        out["scoring.pairs_per_cpu_s"] = scored / cpu if cpu > 0 else 0.0
        return out

    def dropped_stages(self) -> int:
        return sum(s.dropped_stages for s in self.spans)

    def dump(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def median_layers(per_op: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in per_op) for k in per_op[0]}
