"""Blocking + weighted pair scoring (reference O2, O3, O4, O6, O7).

Re-expresses the reference's per-x nested loop
(/root/reference/record_matcher/matcher.py:92-216) as one declarative plan:

    x  --(uniqueness agg, one pass)-->  per-row weights + optimal threshold
    x JOIN y ON blocking keys        =  candidate pairs   (records.py:106-132)
    per pair: greatest-over-y-cols scorer scores, per-column contribution
    gates, weighted sum in rule order                     (matcher.py:8-89,
                                                           184-200)

Everything except pandas-UDF scorers stays inside whole-stage codegen.
The per-column uniqueness aggregate (one row of O(columns) counts) is a
scalar subquery inside the plan, so building a scoring plan runs no
Spark job.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.functions.scorers import SCORERS, blank_coalesce

# Internal column prefix — kept out of user schemas.
XID = "__rm_x_id"
YID = "__rm_y_id"
SCORE = "row_score"
OPTIMAL = "optimal_threshold"

# Optimizer sizeInBytes at/above this is the "statistics unknown"
# sentinel (spark.sql.defaultSizeInBytes defaults to Long.MaxValue).
_UNKNOWN_STATS_BYTES = 1 << 62

def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Scan-task estimate from OPTIMIZER STATISTICS — no Spark job, no
    RDD conversion, no AQE stage materialization.

    ``ceil(sizeInBytes / spark.sql.files.maxPartitionBytes)`` tracks the
    file-source split count (FilePartition packs splits up to
    maxPartitionBytes; sub-openCost files aren't split, and such inputs
    estimate to 1 exactly like the old ``rdd.getNumPartitions()`` probe
    saw them). Returns None when statistics are unknown (the
    defaultSizeInBytes sentinel) — callers must treat that as "don't
    repartition", the scale-safe direction: a 100 TB scan with opaque
    stats must not be forced through an extra shuffle, while the
    small-input case this estimate protects (a one-split parquet x
    serializing pair scoring onto one core) always HAS file statistics.
    """
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts scala BigInt to int when it fits; fall back to
        # the string form for values past the auto-conversion range
        size = raw if isinstance(raw, int) else int(raw.toString())
        # spark.sql.files.maxPartitionBytes, parsed by Spark's own conf
        mpb = (
            df.sparkSession._jsparkSession.sessionState()
            .conf().filesMaxPartitionBytes()
        )
    except Exception:
        return None
    if size >= _UNKNOWN_STATS_BYTES or mpb <= 0:
        return None
    return max(1, -(-size // mpb))


def _uniqueness_counts(columns: Iterable[str]) -> list[Column]:
    """The one aggregate behind the uniqueness ratios: total row count
    plus, per column, the distinct count of its non-blank values.

    Distinct-count over xxhash64(value), not the value: the partial
    aggregate shuffles 8 bytes/row instead of whole conversation texts.
    Equal to the exact count unless two distinct values collide at 64
    bits (~n^2/2^65 — for the reference-parity target that risk is
    accepted and documented; a collision shifts one weight by <= 1/n).
    Risk register: README, "64-bit hash-equality risk register".
    """
    aggs = [F.count(F.lit(1)).alias("__rm_total")]
    for c in columns:
        s = blank_coalesce(F.col(c))
        aggs.append(
            F.count_distinct(F.when(s != "", F.xxhash64(s))).alias(
                f"__rm_ucnt_{c}"
            )
        )
    return aggs


def uniqueness_by_columns(
    df: DataFrame, columns: Iterable[str]
) -> dict[str, float]:
    """Distinct-truthy-value ratio per column, in ONE aggregate pass,
    collected to the driver.

    Reference semantics (records.py:49-67):
    ``len({r[c] for r in records if r[c]}) / len(records)``, 0 for an empty
    table — distinct count over non-blank string values divided by total
    row count. Exact ``count_distinct`` (not approx) because weights must
    match the reference bit-for-bit. The final division happens driver-side
    on exact integer counts, so the float result is identical to the
    reference's Python division.

    Blank semantics: NULL and '' are both "blank" (Spark NULL is strictly
    more permissive than the reference, which raises KeyError on ragged
    rows at records.py:66 — documented divergence).
    """
    columns = list(dict.fromkeys(columns))
    counts = df.agg(*_uniqueness_counts(columns)).first()
    return _uniqueness_ratios(counts, columns)


def _uniqueness_ratios(counts: Row, columns: list[str]) -> dict[str, float]:
    """The ratios of :func:`uniqueness_by_columns` from a collected row of
    :func:`_uniqueness_counts` (a caller may aggregate more columns in the
    same pass): exact integer counts divided on the driver."""
    total = counts["__rm_total"]
    if total == 0:
        return {c: 0.0 for c in columns}
    return {c: counts[f"__rm_ucnt_{c}"] / total for c in columns}


def _rule_score_expr(
    rule, xs: Column, y_prefix: str, allow_pregate: bool = True
) -> Column:
    """max-over-y-columns scorer score for one rule (matcher.py:74-84).

    Scorers with a ``prep`` phase read the pre-tokenized per-record columns
    (``__rm_xp_*`` / ``__rm_yp_*``) instead of re-preprocessing per pair.

    Pre-gate (``allow_pregate`` + ``scorer.upper_bound`` + ``cutoff``
    rules): when the scorer's provable ceiling is below the rule
    threshold, the exact score cannot pass the contribution gate, so the
    column yields an exact 0.0 without paying the scorer. Catalyst pulls
    pandas UDFs into an unconditional ArrowEvalPython pass (a ``when``
    cannot skip them), so the UDF instead receives DEFUSED inputs
    ('' == '' short-circuits in the batch kernel before any O(L^2) work)
    and the outer ``when`` discards its value. Semantics are exact: the
    gate (score >= threshold) fails for any sub-threshold value, and
    ``any_gate``/contribution see the identical outcome. Only the raw
    per-column debug scores would differ, so ``keep_column_scores``
    callers disable the pre-gate (_apply_scoring).
    """
    scorer = SCORERS[rule.scorer]
    if not rule.y_columns:
        # reference: max(column_scores) if column_scores else 0 (matcher.py:84)
        return F.lit(0.0)
    if scorer.prep is not None:
        xp = F.col(f"__rm_xp_{rule.x_column}")
        exprs = [
            scorer.pair(xp, F.col(f"__rm_yp_{rule.scorer}_{yc}"))
            for yc in rule.y_columns
        ]
    else:
        pregate = (
            allow_pregate
            and rule.cutoff
            and scorer.upper_bound is not None
            and float(rule.threshold) > 0.0
        )
        exprs = []
        for yc in rule.y_columns:
            ys = F.col(f"{y_prefix}{yc}")
            if pregate and scorer.catalyst:
                # codegen CASE WHEN short-circuits per row, so a plain
                # conditional skips the expensive expression (e.g. the
                # O(L1*L2) levenshtein DP) — no defusing dance needed.
                # Under the same contract a ``bounded`` kernel may replace
                # the full scorer: exact when >= threshold, exact 0.0
                # below (e.g. the banded Levenshtein DP, whose cost
                # scales with the threshold band instead of L1*L2).
                ok = scorer.upper_bound(xs, ys) >= F.lit(float(rule.threshold))
                inner = (
                    scorer.bounded(xs, ys, float(rule.threshold))
                    if scorer.bounded is not None
                    else scorer.expr(xs, ys)
                )
                exprs.append(F.when(ok, inner).otherwise(F.lit(0.0)))
            elif pregate:
                ok = scorer.upper_bound(xs, ys) >= F.lit(float(rule.threshold))
                gx = F.when(ok, xs).otherwise(F.lit(""))
                gy = F.when(ok, ys).otherwise(F.lit(""))
                exprs.append(
                    F.when(ok, scorer.expr(gx, gy)).otherwise(F.lit(0.0))
                )
            else:
                exprs.append(scorer.expr(xs, ys))
    return exprs[0] if len(exprs) == 1 else F.greatest(*exprs)


def _x_side_columns(cfg: MatchConfig) -> list:
    """Projection list for the prepared x side (id, optimal, normalized
    strings, prepped values, weights)."""
    cols = [F.col(cfg.x_id).alias(XID), OPTIMAL]
    # prep-scorer rules score over the prepped columns only — shipping the
    # normalized string too would double the join/shuffle payload for the
    # heaviest columns (e.g. whole-conversation text)
    cols += [
        f"__rm_xs_{r.x_column}"
        for r in cfg.rules
        if SCORERS[r.scorer].prep is None
    ]
    cols += [
        f"__rm_xp_{r.x_column}"
        for r in cfg.rules
        if SCORERS[r.scorer].prep is not None
    ]
    cols += [f"__rm_w_{r.x_column}" for r in cfg.rules]
    return cols


def _y_side(y_df: DataFrame, cfg: MatchConfig, extra: Iterable[str] = ()) -> DataFrame:
    """Prepared y projection: id, normalized strings, prepped values.

    Strings are shipped only for rules whose scorer reads them (no prep
    phase) plus blocking extras — prep-scorer columns ride as prepped
    values alone (see _x_side_columns).
    """
    y_needed = sorted(
        {
            yc
            for r in cfg.rules
            if SCORERS[r.scorer].prep is None
            for yc in r.y_columns
        }
        | set(extra)
    )
    y_cols = [F.col(cfg.y_id).alias(YID)]
    y_cols += [blank_coalesce(F.col(c)).alias(f"__rm_ys_{c}") for c in y_needed]
    seen: set[str] = set()
    for r in cfg.rules:
        scorer = SCORERS[r.scorer]
        if scorer.prep is not None:
            for yc in r.y_columns:
                name = f"__rm_yp_{r.scorer}_{yc}"
                if name not in seen:
                    seen.add(name)
                    # tokenize-once (see prepare_x): the prepped column
                    # replaces the prep expression for the rule's SELF
                    # column only (y_columns other than x_column still
                    # prep from their strings)
                    if r.prepped is not None and yc == r.x_column:
                        val = F.col(r.prepped)
                    else:
                        val = scorer.prep(blank_coalesce(F.col(yc)))
                    y_cols.append(val.alias(name))
    return y_df.select(*y_cols)


def _planned_uniqueness(
    x_df: DataFrame, columns: list[str]
) -> tuple[DataFrame, dict[str, Column]]:
    """Job-free twin of :func:`uniqueness_by_columns`: the same one-pass
    aggregate stays IN the plan as one scalar subquery (a struct of the
    counts) instead of being collected to the driver.

    Returns (x with the counts struct as column ``__rm_ucnt``,
    {column: ratio Column}). Numerically identical to the
    collected map: both divide exact integer counts (< 2^53, so the
    long->double casts are exact) with one correctly-rounded double
    division — Python's int/int ``/`` and Spark's double division produce
    the same bits. The empty-table case (total = 0 -> every ratio 0.0) is
    guarded explicitly, mirroring the collected dict-of-zeros.

    Cost model: Spark runs the subquery once per action, before the
    stages that read it: its one reference is the ``__rm_ucnt`` column
    (Catalyst does not copy a subquery into every expression that reads
    the column, so it is not run once per weight). No join is added to
    x, so x's partitioning is untouched, and plan construction triggers
    ZERO Spark jobs (pinned in tests/test_transcripts.py and
    tests/test_plans.py).
    """
    columns = list(dict.fromkeys(columns))
    out = x_df.withColumn(
        "__rm_ucnt", x_df.agg(F.struct(*_uniqueness_counts(columns))).scalar()
    )
    total = F.col("__rm_ucnt.__rm_total").cast("double")
    ratios = {
        c: F.when(
            total > 0, F.col(f"__rm_ucnt.__rm_ucnt_{c}").cast("double") / total
        ).otherwise(F.lit(0.0))
        for c in columns
    }
    return out, ratios


def prepare_x(
    x_df: DataFrame,
    cfg: MatchConfig,
    uniqueness: Mapping[str, float] | None = None,
) -> DataFrame:
    """Annotate x with normalized match/group strings, per-row weights and
    the per-row optimal threshold.

    Weights (records.py:70-103 + matcher.py:173-177): restrict column
    uniqueness to this row's non-blank match columns and normalize to sum 1;
    a blank column gets weight 0; if every match column is blank the weight
    map is empty (all 0) and optimal_threshold is 0.

    ``optimal_threshold = sum(threshold_c * w_c)`` over the refined columns
    (matcher.py:210-214). Accumulation order = rule order, fixed in both
    engine and oracle so float results agree bitwise.

    ``uniqueness``: a precomputed per-column map (e.g. corpus-level values
    from :func:`uniqueness_by_columns`). Without one, the uniqueness
    aggregate over ``x_df`` stays in the plan
    (:func:`_planned_uniqueness`), so building the plan runs no Spark
    job.
    """
    u_cols: Mapping[str, Column]
    if uniqueness is not None:
        u_cols = {c: F.lit(float(u)) for c, u in uniqueness.items()}
        out = x_df
    else:
        out, u_cols = _planned_uniqueness(x_df, cfg.x_match_columns)
    nonblank: dict[str, Column] = {}
    for rule in cfg.rules:
        xs = blank_coalesce(F.col(rule.x_column))
        out = out.withColumn(f"__rm_xs_{rule.x_column}", xs)
        scorer = SCORERS[rule.scorer]
        if scorer.prep is not None:
            # tokenize-once: a caller-provided prepped column
            # (ColumnRule.prepped, e.g. the rollup's tok_hashes) replaces
            # the prep expression — same values as sets, no per-consumer
            # re-tokenization of the heaviest strings
            if rule.prepped is not None:
                prep_val = F.col(rule.prepped)
            else:
                prep_val = scorer.prep(xs)
            out = out.withColumn(f"__rm_xp_{rule.x_column}", prep_val)
        nonblank[rule.x_column] = xs != ""

    # u_sum = sum of u_c over this row's non-blank match columns, rule order
    u_sum: Column = F.lit(0.0)
    for rule in cfg.rules:
        u_c = u_cols[rule.x_column]
        u_sum = u_sum + F.when(nonblank[rule.x_column], u_c).otherwise(0.0)
    out = out.withColumn("__rm_u_sum", u_sum)

    optimal: Column = F.lit(0.0)
    for rule in cfg.rules:
        u_c = u_cols[rule.x_column]
        w_c = F.when(
            nonblank[rule.x_column] & (F.col("__rm_u_sum") > 0),
            u_c / F.col("__rm_u_sum"),
        ).otherwise(0.0)
        out = out.withColumn(f"__rm_w_{rule.x_column}", w_c)
        optimal = optimal + F.lit(float(rule.threshold)) * w_c
    out = out.withColumn(OPTIMAL, optimal)
    return out


def score_pairs(
    x_df: DataFrame,
    y_df: DataFrame,
    cfg: MatchConfig,
    *,
    keep_column_scores: bool = False,
) -> DataFrame:
    """Candidate generation + weighted scoring → scored-pairs DataFrame.

    Returns ``[x_id, y_id, row_score, optimal_threshold]`` — one row per
    candidate pair that "entered" scoring, i.e. where at least one
    per-column gate passed. This replicates the reference's defaultdict:
    a y index appears in ``y_records_scores`` iff some column's generator
    yielded it (matcher.py:184-200), *even when its total contribution is
    0.0* (e.g. a blank x column exact-matching a blank y gets score 100,
    passes the ``>0`` gate, but carries weight 0).

    Per-column gate (matcher.py:86-89): ``cutoff ? score >= threshold
    : score > 0``; a gated-out column simply contributes nothing.

    Blocking (records.py:106-132): string-equality equi-join on
    ``columns_to_group`` pairs with blank coalescing (``y.get(col, '')``).
    Empty spec ⇒ cross join, exactly like the reference scoring all y per x
    (matcher.py:179). Catalyst + AQE pick the join strategy.

    Building the plan runs no Spark job: the uniqueness aggregate (O2)
    stays in the plan (:func:`prepare_x`) and the x-side fan-out floor
    reads optimizer statistics (pinned in tests/test_plans.py).
    """
    cfg.validate(x_df.columns, y_df.columns)

    x = prepare_x(x_df, cfg)
    x_cols = _x_side_columns(cfg)
    group_x = sorted(set(cfg.columns_to_group.values()))
    x_cols += [blank_coalesce(F.col(c)).alias(f"__rm_gx_{c}") for c in group_x]
    xp = x.select(*x_cols)

    # Pair scoring parallelism is bounded by the x-side partition count when
    # the y side is broadcast (no shuffle between scan and scoring). A small
    # parquet x (one split) would serialize the whole candidate-pair scoring
    # onto one core — fan out to the default parallelism first. At scale
    # the scan already has >= target partitions and this is a no-op (no
    # shuffle added). The estimate is pure OPTIMIZER STATISTICS over the
    # RAW input (:func:`_estimated_scan_partitions`) — no job, no RDD
    # conversion — and never touches the scorer prep / pandas UDF columns.
    # Unknown statistics skip the repartition (the scale-safe direction).
    floor = x_df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(x_df)
    if est is not None and est < floor:
        xp = xp.repartition(floor)

    yp = _y_side(y_df, cfg, extra=cfg.columns_to_group)

    if cfg.columns_to_group:
        cond = None
        for yc, xc in cfg.columns_to_group.items():
            eq = F.col(f"__rm_ys_{yc}") == F.col(f"__rm_gx_{xc}")
            cond = eq if cond is None else (cond & eq)
        pairs = xp.join(yp, cond, "inner")
    else:
        pairs = xp.crossJoin(yp)

    return _apply_scoring(pairs, cfg, keep_column_scores)


def _apply_scoring(
    pairs: DataFrame, cfg: MatchConfig, keep_column_scores: bool = False
) -> DataFrame:
    """Scoring tail shared by score_pairs / score_candidate_pairs.

    Materializes each rule score in its own projection, then builds gates /
    contributions over the materialized columns. pandas-UDF scorers are
    flagged non-deterministic (see scorers._make_pandas_scorer), so
    CollapseProject / PushPredicateThroughProject cannot clone the UDF
    call into the gate filter — each pair is scored exactly ONCE in a
    single ArrowEvalPython pass; Catalyst-expression scorers are free to
    inline (codegen CSE dedups within an operator).
    """
    for i, rule in enumerate(cfg.rules):
        xs = F.col(f"__rm_xs_{rule.x_column}")
        pairs = pairs.withColumn(
            f"__rm_s_{i}",
            # pre-gating replaces provably-sub-threshold scores with 0.0 —
            # identical contributions/gates, but the raw per-column debug
            # scores must stay exact when the caller asked to see them
            _rule_score_expr(
                rule, xs, "__rm_ys_", allow_pregate=not keep_column_scores
            ),
        )

    # per-rule gate + contribution — accumulated in rule order
    row_score: Column = F.lit(0.0)
    any_gate: Column = F.lit(False)
    keep_cols = []
    for i, rule in enumerate(cfg.rules):
        sc = F.col(f"__rm_s_{i}")
        if rule.cutoff:
            gate = sc >= F.lit(float(rule.threshold))
        else:
            gate = sc > F.lit(0.0)
        contrib = F.when(gate, sc * F.col(f"__rm_w_{rule.x_column}")).otherwise(0.0)
        row_score = row_score + contrib
        any_gate = any_gate | gate
        if keep_column_scores:
            keep_cols.append(sc.alias(f"score_{rule.x_column}"))

    out_cols = [
        F.col(XID).alias("x_id"),
        F.col(YID).alias("y_id"),
        row_score.alias(SCORE),
        F.col(OPTIMAL),
        *keep_cols,
    ]
    return pairs.where(any_gate).select(*out_cols)


def score_candidate_pairs(
    x_df: DataFrame,
    y_df: DataFrame,
    candidates: DataFrame,
    cfg: MatchConfig,
    *,
    uniqueness: Mapping[str, float] | None = None,
) -> DataFrame:
    """Score an explicit candidate-pair set (from operators.blocking)
    instead of deriving candidates from ``cfg.columns_to_group``.

    ``candidates``: DataFrame[x_id, y_id] (deduped). This is the scale
    path: derived blocking keys (role-seq / token / MinHash bands) replace
    the reference's exact-equality grouping, and the F1 target is defined
    *under identical blocking keys* (BASELINE.json), so the oracle consumes
    the same candidate set.

    ``uniqueness``: precomputed per-column uniqueness map for the x-side
    weights (see :func:`prepare_x`). Default None keeps the aggregate over
    ``x_df`` in the plan — correct for one-shot batch runs, and plan
    construction triggers zero Spark jobs; incremental callers pass
    corpus-level values so a small batch's skewed column statistics don't
    shift the weights (incremental.match_increment).

    Two shuffle-joins (candidates↔x on x_id, result↔y on y_id), both plain
    equi-joins AQE can re-plan (broadcast when a side is small, skew-split
    on hot ids).
    """
    cfg.validate(x_df.columns, y_df.columns)

    x = prepare_x(x_df, cfg, uniqueness=uniqueness)
    xp = x.select(*_x_side_columns(cfg))
    yp = _y_side(y_df, cfg)

    cand = candidates.select(
        F.col("x_id").alias(XID), F.col("y_id").alias(YID)
    )
    pairs = cand.join(xp, XID).join(yp, YID)
    return _apply_scoring(pairs, cfg)
