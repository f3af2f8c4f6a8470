"""End-to-end transcript entity-resolution pipeline (the north star).

    transcripts ─rollup→ conversations ─blocking→ candidates
        ─score→ pairs ─resolve→ claims ─edges→ CC → entity clusters

Every stage is a lazy DataFrame transformation; `run()` materializes
stage-by-stage with optional checkpointing (sources.checkpoints) so any
stage is resumable. The pairwise-F1 harness evaluates clusters against
entity truth *under identical blocking keys* (BASELINE.json).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.operators.blocking import (
    DEFAULT_TRANSCRIPT_KEYS,
    candidate_pairs,
)
from record_matcher_spark.operators.cluster import connected_components
from record_matcher_spark.operators.resolve import resolve_matches
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.operators.scoring import score_candidate_pairs


def default_transcript_match_config() -> MatchConfig:
    """Conversation-record matching rules (columns from operators.rollup).

    Rule order fixes FP accumulation order (oracle mirrors it). Weights are
    uniqueness-driven per the reference (records.py:49-103): full_text is
    near-unique so it dominates; role_seq/tool_seq carry little weight but
    separate different conversation shapes.

    Threshold calibration (measured on the seeded synthetic corpus, 60-600
    entities): true variant pairs score >= ~47 (p05 ~53), false candidate
    pairs max out at ~38 — required_threshold=45 sits in the gap with
    precision 1.0 on the fixture corpora.

    first_user_text is a CUTOFF rule (reference matcher.py:86-89
    semantics: sub-threshold scores contribute 0 instead of their value):
    within-entity variants keep first_user_text levenshtein >= ~90 (the
    datagen perturbation expects <1 edit per word), so true-pair scores
    are unchanged, while false pairs can only score LOWER than under
    cutoff=False — every margin proof (closed-form corpus oracles,
    threshold calibration) holds a fortiori. Operationally the cutoff
    arms the two exactness-preserving fast paths on the pipeline's
    single hottest expression (the O(L^2) levenshtein DP was measured at
    ~90% of pair-scoring cost at 1.2M conversations): the length-gap
    pre-gate and the banded thresholded kernel
    (functions/scorers._bounded_levenshtein_ratio).
    """
    return MatchConfig(
        rules=(
            # prepped="tok_hashes": scoring reads the rollup's
            # tokenize-once hash set (bit-identical Jaccard — same
            # distinct-token-hash sets) instead of re-tokenizing the
            # concatenated conversation text on each side of every join
            ColumnRule("full_text", ("full_text",), scorer="token_set_jaccard",
                       threshold=40.0, cutoff=False, prepped="tok_hashes"),
            ColumnRule("first_user_text", ("first_user_text",),
                       scorer="levenshtein_ratio", threshold=50.0,
                       cutoff=True),
            ColumnRule("role_seq", ("role_seq",), scorer="exact_match"),
            ColumnRule("tool_seq", ("tool_seq",), scorer="exact_match"),
        ),
        required_threshold=45.0,
        duplicate_threshold=0.0,
        x_id="conv_id",
        y_id="conv_id",
    )


#: ``edge_mode`` values of the transcript pipelines (see
#: :func:`match_transcripts`).
EDGE_MODES = ("best_match", "threshold")
#: Final statuses whose single-survivor claim becomes a best_match edge.
EDGE_STATUSES = ("matched", "review")


def match_edges(
    edge_mode: str,
    pairs: DataFrame,
    resolved: DataFrame | None,
    cfg: MatchConfig,
) -> DataFrame:
    """Match edges ``[src, dst]`` for connected components.

    ``"best_match"`` reads the claims of ``resolved`` (``resolve_matches``
    output with ``keep_debug=True``) whose final status is in
    :data:`EDGE_STATUSES`; ``"threshold"`` takes every scored pair with
    ``row_score >= required_threshold`` and never reads ``resolved``.
    """
    if edge_mode == "best_match":
        return resolved.where(F.col("__rm_final").isin(*EDGE_STATUSES)).select(
            F.col(cfg.x_id).alias("src"), F.col("__rm_matched_y").alias("dst")
        )
    return pairs.where(
        F.col("row_score") >= F.lit(float(cfg.required_threshold))
    ).select(F.col("x_id").alias("src"), F.col("y_id").alias("dst"))


@dataclass
class TranscriptMatchResult:
    conversations: DataFrame
    candidates: DataFrame  # [x_id, y_id] directed, no self pairs
    pairs: DataFrame  # scored pairs
    resolved: DataFrame  # per-conversation status + claim (keep_debug)
    edges: DataFrame  # [src, dst] undirected match edges
    clusters: DataFrame  # [conv_id, cluster_id]
    persisted: list = field(default_factory=list)  # every DF this run cached
    observations: dict = field(default_factory=dict)  # stage -> Observation

    def unpersist(self) -> None:
        """Release every DataFrame the pipeline persisted (call after the
        outputs are materialized — repeated pipeline runs in one session
        would otherwise accumulate executor storage)."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self.persisted.clear()

    def progress(self) -> dict[str, dict]:
        """Per-stage metrics collected by ``Observation`` DURING the stage
        actions (no extra jobs — the Spark-native replacement for the
        reference's per-x ``update_func`` callback, matcher.py:320,
        405-406). Call after materializing the outputs (e.g.
        ``clusters.count()``); each stage's metrics appear once its first
        action has run."""
        return {name: dict(ob.get) for name, ob in self.observations.items()}


def match_transcripts(
    transcripts: DataFrame,
    cfg: MatchConfig | None = None,
    edge_mode: str = "best_match",
    store=None,
    observe: bool = False,
) -> TranscriptMatchResult:
    """Dedup-mode pipeline: every conversation is matched against its
    blocked candidates (directed, reference semantics incl. duplicate
    resolution, SURVEY.md §2.5), match edges feed connected components
    which assign min-conv_id cluster labels. Candidates come from the
    default blocking families (``DEFAULT_TRANSCRIPT_KEYS``).

    ``edge_mode``:
    - ``"best_match"`` — edges are single-survivor claims with final status
      in :data:`EDGE_STATUSES`: faithful to the reference's best-match +
      tie-break + duplicate-resolution semantics (the F1-vs-reference
      parity mode). 1:1-biased: ambiguous ties and duplicate-loser resets
      contribute no edge, so transitive recall is structurally limited.
    - ``"threshold"`` — edges are ALL scored pairs with
      ``row_score >= required_threshold``: standard ER transitive closure,
      higher recall against entity truth. Classification columns are still
      produced (resolved), only edge extraction differs.

    ``observe``: attach per-stage ``Observation`` metrics (rows, score
    stats, pass counts), collected during the stage actions themselves —
    the Spark-native replacement for the reference's per-x ``update_func``
    progress callback (matcher.py:320, 405-406). Read them via
    ``result.progress()`` after materializing the outputs; pair with
    ``store.log_metrics`` for a durable audit trail.
    """
    if edge_mode not in EDGE_MODES:
        raise ValueError(f"unknown edge_mode {edge_mode!r}")
    cfg = cfg or default_transcript_match_config()
    cfg_key = repr(cfg)
    persisted: list = []
    observations: dict = {}

    def _obs(df: DataFrame, name: str, *aggs):
        """Attach a named Observation: metrics are collected by the
        executors DURING the stage's first materialization (zero extra
        jobs). Only stages inside the clusters DAG are observed, so every
        observation is guaranteed to fire once the caller materializes
        the output (Observation.get blocks until its node executes)."""
        if not observe:
            return df
        from pyspark.sql import Observation

        ob = Observation()
        observations[name] = ob
        return df.observe(ob, *aggs)

    def _stage(name: str, build, config=None):
        """store: committed Iceberg/parquet write (resumable across runs);
        else persist: in-memory for this session. Both cut re-execution —
        conv feeds blocking (xN key families), x-side prep (incl. the
        eager uniqueness aggregate), y-side prep, and the final cluster
        join; without materialization the rollup groupBy re-executes for
        every consumer."""
        if store is not None:
            return store.run_stage(name, build, config=config)
        df = build().persist()
        persisted.append(df)
        return df

    # The ordered `turns` array is the heaviest rollup column and no
    # pipeline stage reads it (blocking/scoring consume only the derived
    # match columns) — drop it before the persist so the conversations
    # cache and every downstream shuffle carry a slim payload. Callers
    # needing the full rollup use operators.rollup directly. The cache
    # carries the tokenize-once `tok_hashes`/`tok_hashes_lower` sets,
    # consumed by Jaccard scoring (both sides) and MinHash blocking.
    conv = _stage(
        "conversations",
        lambda: _obs(
            rollup_conversations(transcripts).drop("turns"),
            "conversations",
            F.count(F.lit(1)).alias("n_conversations"),
            F.avg("n_turns").alias("avg_turns"),
        ),
    )
    cand = _stage(
        "candidates",
        lambda: _obs(
            candidate_pairs(
                conv, conv, x_id=cfg.x_id, y_id=cfg.y_id, persisted=persisted,
            ).where(F.col("x_id") != F.col("y_id")),
            "candidates",
            F.count(F.lit(1)).alias("n_candidates"),
        ),
        # lineage config: a store built with other blocking families
        # is not resumed
        config=[k.name for k in DEFAULT_TRANSCRIPT_KEYS],
    )
    pairs = _stage(
        "pairs",
        lambda: _obs(
            # the weight statistics stay in the plan as a scalar
            # subquery — constructing the scoring stage triggers zero
            # Spark jobs (pinned in test_transcripts; the CC stage
            # still runs its size-gate/convergence actions, which are
            # inherent to an iterative algorithm, not plan building)
            score_candidate_pairs(conv, conv, cand, cfg),
            "pairs",
            F.count(F.lit(1)).alias("n_scored_pairs"),
            F.avg("row_score").alias("avg_score"),
            F.sum(
                (F.col("row_score") >= F.lit(float(cfg.required_threshold)))
                .cast("long")
            ).alias("n_passing"),
        ),
        config=cfg_key,
    )
    resolved = resolve_matches(conv, conv, pairs, cfg, keep_debug=True)

    edges = match_edges(edge_mode, pairs, resolved, cfg)

    def _build_clusters() -> DataFrame:
        clusters = connected_components(edges, "src", "dst").select(
            F.col("node").alias("conv_id"),
            F.col("component").alias("cluster_id"),
        )
        # conversations without any edge keep their own id as cluster
        return _obs(
            conv.select("conv_id")
            .join(clusters, "conv_id", "left")
            .select(
                "conv_id",
                F.coalesce("cluster_id", F.col("conv_id")).alias("cluster_id"),
            ),
            "clusters",
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("cluster_id").alias("n_clusters_approx"),
        )

    all_clusters = _stage(
        "clusters", _build_clusters, config=[edge_mode, *EDGE_STATUSES]
    )
    return TranscriptMatchResult(
        conv, cand, pairs, resolved, edges, all_clusters, persisted,
        observations,
    )


def pairwise_f1(
    clusters: DataFrame,
    truth: DataFrame,
    candidates: DataFrame,
) -> dict[str, float]:
    """Pairwise precision/recall/F1 over the candidate-pair universe
    (unordered, deduped) — 'under identical blocking keys'
    (BASELINE.json:14): a truth pair outside every block is unreachable for
    any engine using these keys and is excluded by construction.

    clusters: [conv_id, cluster_id]; truth: [conv_id, entity_id];
    candidates: [x_id, y_id].
    """
    cand = (
        candidates.select(
            F.least("x_id", "y_id").alias("a"), F.greatest("x_id", "y_id").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    ca = clusters.select(F.col("conv_id").alias("a"), F.col("cluster_id").alias("pa"))
    cb = clusters.select(F.col("conv_id").alias("b"), F.col("cluster_id").alias("pb"))
    ta = truth.select(F.col("conv_id").alias("a"), F.col("entity_id").alias("ea"))
    tb = truth.select(F.col("conv_id").alias("b"), F.col("entity_id").alias("eb"))
    j = cand.join(ca, "a").join(cb, "b").join(ta, "a").join(tb, "b")
    agg = j.agg(
        F.sum(((F.col("pa") == F.col("pb")) & (F.col("ea") == F.col("eb"))).cast("long")).alias("tp"),
        F.sum(((F.col("pa") == F.col("pb")) & (F.col("ea") != F.col("eb"))).cast("long")).alias("fp"),
        F.sum(((F.col("pa") != F.col("pb")) & (F.col("ea") == F.col("eb"))).cast("long")).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp, "fp": fp, "fn": fn,
        "precision": precision, "recall": recall, "f1": f1,
    }
