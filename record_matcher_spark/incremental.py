"""Incremental transcript entity resolution: fold a NEW batch of
transcripts into an already-clustered corpus without re-scoring or
re-clustering the base.

Why this exists at 100 TB: the batch pipeline (pipeline.match_transcripts)
is a full recompute — candidate generation over all pairs of blocks,
scoring, and connected components over the whole match graph. When a
corpus is already resolved and a daily/hourly slice arrives, the only new
information is edges INCIDENT TO THE BATCH; everything the base graph
already decided is summarized losslessly by its cluster labels. So the
increment:

1. rolls up only the batch's transcripts;
2. blocks batch conversations against (base ∪ batch) — one equi-join of
   the batch's keys with the keys of base ∪ batch;
3. scores only those candidate pairs (same vectorized scorers, with the
   uniqueness weights of base ∪ batch so a small batch's skewed column
   statistics cannot shift row weights);
4. contracts every base endpoint to its cluster label and runs connected
   components on the contracted graph — node count is O(|batch| + touched
   clusters); the base graph is never revisited.

What a fold costs today. O(batch): the batch rollup, scoring the
candidate pairs, the contracted connected components, and the appended
log segments. O(corpus): step 2 derives every blocking family's keys
(MinHash signatures included) for every base conversation and counts
every block for the caps, and the uniqueness aggregate (which also
carries the disjointness guard) reads all of base ∪ batch. So shuffle
and executor CPU per fold grow with the corpus; ROADMAP item I measured
shuffle write per fold rising 26× while the base grew 18×, and plans a
stored key index that makes steps 2 and 3 read only the keys and values
a batch touches.

A component that captures two or more base labels is a MERGE discovered by
new evidence; the survivor is the smallest base label and the remap is
reported in ``IncrementResult.merges`` (apply with :func:`apply_merges` —
an O(|merged clusters|) broadcast-join touch-up of the assignment table,
not a rewrite).

Equivalence to the batch pipeline: on a corpus whose match margins are
wide (every true pair scores well above threshold, every false candidate
well below — e.g. the closed-form driver corpus in ``__spark_entry__``),
incremental and full-batch runs produce the identical partition of
conversations into clusters; tests/test_incremental.py pins this. With
thin margins they can differ exactly where any streaming system must:
uniqueness weights drift as the corpus grows and block caps see
different block sizes.

Structured Streaming wrapper: this function is deliberately a pure batch
operator so it drops into ``foreachBatch`` unchanged::

    def sink(batch_df, batch_id):
        inc = match_increment(batch_df, base_conv, base_clusters, ...)
        ...append inc.conversations / inc.assignments, apply inc.merges...

    stream.writeStream.foreachBatch(sink).start()

(the state tables live in the lake, e.g. sources.checkpoints.StageStore —
per-batch exactly-once comes from the sink's idempotent overwrite keyed by
batch_id, the standard Spark pattern).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.errors import InvalidConfigError
from record_matcher_spark.operators.blocking import candidate_pairs
from record_matcher_spark.operators.cluster import connected_components
from record_matcher_spark.operators.resolve import resolve_matches
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.operators.scoring import (
    _uniqueness_counts,
    _uniqueness_ratios,
    score_candidate_pairs,
)
from record_matcher_spark.pipeline import (
    EDGE_MODES,
    default_transcript_match_config,
    match_edges,
)


@dataclass
class IncrementResult:
    conversations: DataFrame  # batch rollup (slim, no `turns`)
    candidates: DataFrame  # [x_id, y_id]: x = batch conv, y = base or batch
    pairs: DataFrame  # scored candidate pairs
    assignments: DataFrame  # [conv_id, cluster_id] for the BATCH convs
    merges: DataFrame  # [old_cluster_id, cluster_id] base clusters remapped
    persisted: list = field(default_factory=list)

    def unpersist(self) -> None:
        """Release every DataFrame this increment persisted."""
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self.persisted.clear()


def apply_merges(base_clusters: DataFrame, merges: DataFrame) -> DataFrame:
    """Rewrite base cluster labels through the merge map:
    ``[conv_id, cluster_id]`` with merged labels replaced by survivors.

    The merge map is tiny (only clusters newly connected by this batch),
    so the join broadcasts; rows in unaffected clusters pass through the
    left join unchanged — no shuffle of the base table on a real cluster
    when the output is written back partition-aligned.
    """
    m = F.broadcast(
        merges.select(
            F.col("old_cluster_id").alias("cluster_id"),
            F.col("cluster_id").alias("__rm_new_cl"),
        )
    )
    return (
        base_clusters.join(m, "cluster_id", "left")
        .select(
            "conv_id",
            F.coalesce("__rm_new_cl", "cluster_id").alias("cluster_id"),
        )
    )


def match_increment(
    new_transcripts: DataFrame,
    base_conversations: DataFrame,
    base_clusters: DataFrame,
    cfg: MatchConfig | None = None,
    *,
    edge_mode: str = "threshold",
) -> IncrementResult:
    """Match a batch of transcripts against a clustered base corpus.

    ``new_transcripts``: turn-level rows (rollup schema) for the batch;
    conv_ids must be disjoint from the base: a conversation's turns
    arrive whole within one batch. The guard rides on the uniqueness
    aggregate below (a distinct count of base ∪ batch conv_ids), so it
    costs no extra pass over the corpus, and a batch that re-delivers a
    base conv_id raises InvalidConfigError before anything is matched.
    ``base_conversations``: the slim conversation rollup of the base
    corpus (e.g. ``TranscriptMatchResult.conversations`` of the run that
    produced ``base_clusters``). It must carry every column the slim
    rollup has, ``tok_hashes``/``tok_hashes_lower`` included (ValueError
    otherwise); any extra columns are ignored.
    ``base_clusters``: ``[conv_id, cluster_id]`` for every base conv.

    ``edge_mode``: as in :func:`pipeline.match_transcripts`
    (threshold = transitive-closure recall, best_match = reference claim
    semantics).

    Candidates come from the default blocking families. The scoring
    weights use the per-column uniqueness of base ∪ batch — the same
    statistic the full-batch pipeline would use, so shared pairs score
    identically; it is collected to the driver once per call.

    Returns assignments for the batch's conversations (singletons keep
    their own conv_id, like the batch pipeline) plus the base-cluster
    merge map. The base assignment table itself is NOT rewritten here —
    apply ``merges`` with :func:`apply_merges`.
    """
    if edge_mode not in EDGE_MODES:
        raise ValueError(f"unknown edge_mode {edge_mode!r}")
    cfg = cfg or default_transcript_match_config()
    persisted: list = []

    def _persist(df: DataFrame) -> DataFrame:
        df = df.persist()
        persisted.append(df)
        return df

    newc = rollup_conversations(new_transcripts).drop("turns")
    # base slimmed to the batch rollup's schema; union is the y side.
    # EVERY rollup column is required on the base, the tokenize-once
    # tok_hashes/tok_hashes_lower included: blocking and scoring read
    # them and re-tokenize nothing. A base missing any of them (e.g.
    # ts_min) is malformed, and silently narrowing both sides would
    # hide it.
    missing = [c for c in newc.columns if c not in base_conversations.columns]
    if missing:
        raise ValueError(
            f"base_conversations is missing required rollup columns {missing}"
        )
    newc = _persist(newc)
    all_y = _persist(
        base_conversations.select(*newc.columns).unionByName(newc)
    )

    # one aggregate over base ∪ batch: the uniqueness counts plus the
    # conv_id counts that check the ingest contract (the rollup makes
    # batch ids unique, so a repeat means a base id re-delivered)
    columns = list(dict.fromkeys(cfg.x_match_columns))
    counts = all_y.agg(
        *_uniqueness_counts(columns),
        F.count("conv_id").alias("__rm_ids"),
        F.count_distinct("conv_id").alias("__rm_distinct_ids"),
    ).first()
    if counts["__rm_distinct_ids"] < counts["__rm_ids"]:
        dup = (
            all_y.groupBy("conv_id").count().where(F.col("count") > 1)
            .limit(5).collect()
        )
        for df in persisted:
            df.unpersist()
        ids = ", ".join(str(r["conv_id"]) for r in dup)
        raise InvalidConfigError(
            "batch re-delivers conversation(s) already in the corpus "
            f"({ids}, ...): a conversation's turns must arrive whole within "
            "one batch. Fix the upstream batching (files partitioned by "
            "conversation)."
        )
    uniqueness = _uniqueness_ratios(counts, columns)

    # Lineage policy: the batch-sized frames (candidates, scored pairs,
    # the contracted edge set below) are EAGER localCheckpoints, not mere
    # persists. Each downstream stage embeds multiple copies of its
    # inputs' logical plans (key families x the y-union — whose own plan
    # is the base pipeline's —, CC's self-joins, the label joins), so
    # without truncation the plan tree grows multiplicatively and Spark's
    # own plan rendering (AQE explainString) exhausts the driver heap
    # long before any data does. persist() keeps the data but NOT the
    # plan flat; a LAZY checkpoint is not enough either — no action runs
    # between these stages and CC's first round, so AQE would render the
    # full untruncated tree while planning that first action. Eager costs
    # one extra job per stage over frames that are O(batch) by
    # construction — never O(corpus) — so both the job and the
    # checkpoint storage are bounded.
    cand = candidate_pairs(
        newc, all_y, x_id=cfg.x_id, y_id=cfg.y_id, persisted=persisted,
    ).where(F.col("x_id") != F.col("y_id")).localCheckpoint(eager=True)
    pairs = score_candidate_pairs(
        newc, all_y, cand, cfg, uniqueness=uniqueness
    ).localCheckpoint(eager=True)

    resolved = None
    if edge_mode == "best_match":
        resolved = resolve_matches(newc, all_y, pairs, cfg, keep_debug=True)
    edges = match_edges(edge_mode, pairs, resolved, cfg)

    # Contract base endpoints to their cluster labels: the base graph's
    # connectivity is fully represented by the labels, so CC below runs on
    # O(|batch| + touched clusters) nodes. src is always a batch conv (the
    # x side); only dst can be a base conv.
    #
    # Nodes are struct(b, id), b = 0 for a base label and 1 for a batch
    # conv, and CC labels a component with its minimum node. So the label
    # is the component's representative with no further pass: the
    # smallest BASE label when it touches the base (cluster stability —
    # base members never relabel except on a merge), else the smallest
    # batch conv_id (identical to the batch pipeline's min-id labeling).
    def node(b: int, col: str):
        return F.struct(F.lit(b).alias("b"), F.col(col).alias("id"))

    bc = base_clusters.select(
        F.col("conv_id").alias("dst"), F.col("cluster_id").alias("__rm_dcl")
    )
    cedges = (
        edges.join(bc, "dst", "left")
        .select(
            node(1, "src").alias("src"),
            # a NULL dst stays NULL, so CC drops the edge
            F.when(F.col("__rm_dcl").isNotNull(), node(0, "__rm_dcl"))
            .when(F.col("dst").isNotNull(), node(1, "dst"))
            .alias("dst"),
        )
        .localCheckpoint(eager=True)  # see lineage policy above
    )
    cc = _persist(connected_components(cedges, "src", "dst"))

    assignments = (
        newc.select("conv_id")
        .join(
            cc.where(F.col("node.b") == 1).select(
                F.col("node.id").alias("conv_id"),
                F.col("component.id").alias("_label"),
            ),
            "conv_id",
            "left",
        )
        .select(
            "conv_id",
            F.coalesce("_label", F.col("conv_id")).alias("cluster_id"),
        )
    )
    merges = cc.where(
        (F.col("node.b") == 0) & (F.col("node.id") != F.col("component.id"))
    ).select(
        F.col("node.id").alias("old_cluster_id"),
        F.col("component.id").alias("cluster_id"),
    )

    return IncrementResult(newc, cand, pairs, assignments, merges, persisted)
