"""Match resolution: argmax, classification, column pull, duplicate
resolution, summaries (reference O8-O12, matcher.py:320-449).

Pure window/groupBy algebra over the scored-pairs DataFrame — no
iteration, no driver-side loops:

    pairs --window max over x_id-->  tied-at-max set       (matcher.py:202-208)
          --groupBy x_id-->          n_tied / best / y ids
    x LEFT JOIN tied agg             classify              (matcher.py:357-366,
                                                            378-385)
    LEFT JOIN y on survivor          pull columns          (matcher.py:368-371)
    window over claimed y_id         duplicate resolution  (matcher.py:408-447)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from record_matcher_spark.config import MatchConfig

# Reference display vocabulary (matcher.py:269-275).
MATCH_STATUS = {
    "unmatched": "UNMATCHED",
    "matched": "MATCHED",
    "ambiguous": "AMBIGUOUS",
    "review": "REVIEW",
    "duplicate": "DUPLICATE",
}

# Reference output column names (matcher.py:277-281).
COLUMNS_TO_ADD = {
    "match_status": "match_status",
    "matched_with_row": "row(s)_matched",
    "match_score": "match_score",
}

PHASE1 = "__rm_phase1"  # pre-duplicate-resolution status (internal)
MATCHED_Y = "__rm_matched_y"  # surviving y_id claim (internal)
BEST = "__rm_best_score"


def tied_best_matches(pairs: DataFrame) -> DataFrame:
    """Per x: the set of y's tied at the maximum row score.

    Reference keeps every y whose score equals the max (matcher.py:202-208)
    — float equality intentionally exact, matching ``score ==
    max(scores)``. One shuffle on x_id; the following groupBy reuses the
    same partitioning (no second shuffle).

    Returns ``[x_id, __rm_n_tied, best_score, optimal_threshold, __rm_tied]``
    with ``__rm_tied`` sorted ascending (the reference emits dict
    insertion order — ascending row index for typical inputs).
    """
    w = Window.partitionBy("x_id")
    tied = pairs.withColumn("__rm_mx", F.max("row_score").over(w)).where(
        F.col("row_score") == F.col("__rm_mx")
    )
    return tied.groupBy("x_id").agg(
        F.count(F.lit(1)).alias("__rm_n_tied"),
        F.first("row_score").alias(BEST),
        F.first("optimal_threshold").alias("__rm_opt"),
        F.sort_array(F.collect_list("y_id")).alias("__rm_tied"),
    )


def resolve_matches(
    x_df: DataFrame,
    y_df: DataFrame,
    pairs: DataFrame,
    cfg: MatchConfig,
    *,
    keep_debug: bool = False,
) -> DataFrame:
    """Annotate x with match status / matched rows / scores + pulled columns.

    Classification (matcher.py:357-385): the tied-at-max set is filtered by
    ``required_threshold``; since all tied candidates share one score, the
    passed set is all-or-nothing:

      - no candidates or best < required         → unmatched
      - n_tied > 1                               → ambiguous
      - single survivor, score <= optimal        → review
      - single survivor, score > optimal         → matched

    Column pull (matcher.py:368-371): single-survivor rows copy each
    ``columns_to_get`` y value into the target x column; ambiguous /
    unmatched rows get NULL (matcher.py:381-388).

    Duplicate resolution (matcher.py:408-447): among single-survivor claims
    on one y, a tie at max (or max-min gap < duplicate_threshold) marks ALL
    claimants DUPLICATE (their pulled columns and annotations are retained,
    matcher.py:424-431); otherwise every non-max claimant is reset to
    UNMATCHED with pulled columns and annotations cleared.

    Divergence (documented): the reference's loser-reset iterates
    ``columns_to_get`` KEYS (y-column names) so it nulls a same-named x
    column and leaves the actually-pulled column stale (matcher.py:439-440,
    contrast correct ``.items()`` at 368-371). We implement the intended
    semantics: the pulled TARGET columns are cleared.

    Output: all x columns (targets overwritten where they pre-exist), pulled
    targets, ``match_status`` / ``row(s)_matched`` / ``match_score``
    (names per ``COLUMNS_TO_ADD``). With ``keep_debug`` the internal
    phase-1 status / claim columns survive for summary computation.
    """
    st_col = COLUMNS_TO_ADD["match_status"]
    rows_col = COLUMNS_TO_ADD["matched_with_row"]
    score_col = COLUMNS_TO_ADD["match_score"]

    agg = tied_best_matches(pairs)
    xr = x_df.join(agg, on=x_df[cfg.x_id] == agg["x_id"], how="left").drop(
        agg["x_id"]
    )

    passed = F.col("__rm_n_tied").isNotNull() & (
        F.col(BEST) >= F.lit(float(cfg.required_threshold))
    )
    phase1 = (
        F.when(~passed | F.col("__rm_n_tied").isNull(), "unmatched")
        .when(F.col("__rm_n_tied") > 1, "ambiguous")
        .when(F.col(BEST) <= F.col("__rm_opt"), "review")
        .otherwise("matched")
    )
    xr = xr.withColumn(PHASE1, phase1)
    xr = xr.withColumn(
        MATCHED_Y,
        F.when(F.col(PHASE1).isin("matched", "review"), F.col("__rm_tied")[0]),
    )

    # annotation strings (matcher.py:390-401): comma-joined over the passed
    # set; empty when nothing passed. All tied share one score.
    xr = xr.withColumn(
        rows_col,
        F.when(
            passed,
            F.array_join(F.transform("__rm_tied", lambda y: y.cast("string")), ", "),
        ).otherwise(F.lit("")),
    )
    xr = xr.withColumn(
        score_col,
        F.when(
            passed,
            F.array_join(
                F.transform("__rm_tied", lambda _: F.col(BEST).cast("string")), ", "
            ),
        ).otherwise(F.lit("")),
    )

    # column pull: join the single survivor's y row (matcher.py:368-371)
    if cfg.columns_to_get:
        ysel = y_df.select(
            F.col(cfg.y_id).alias("__rm_pull_y"),
            *[
                F.col(yc).alias(f"__rm_pull_{xt}")
                for yc, xt in cfg.columns_to_get.items()
            ],
        )
        xr = xr.join(ysel, xr[MATCHED_Y] == ysel["__rm_pull_y"], "left").drop(
            "__rm_pull_y"
        )

    # duplicate resolution: windows over the claimed y (matcher.py:408-447).
    # Claimless rows (NULL claim — typically MOST of x) would all hash to
    # the single NULL window partition and serialize into one task; give
    # each a unique synthetic key instead (their window outputs are nulled
    # by the has_claim guard anyway, so the value never matters). The key
    # is a two-field composite — (claim, spread) with exactly one field
    # non-NULL — so a user-supplied y id can never collide with a
    # synthetic no-claim key (a single concatenated string namespace
    # could alias and inflate a claim's count).
    has_claim = F.col(MATCHED_Y).isNotNull()
    wy = Window.partitionBy(
        F.col(MATCHED_Y),
        F.when(has_claim, F.lit(None)).otherwise(F.col(cfg.x_id)),
    )
    xr = (
        xr.withColumn(
            "__rm_n_claims", F.when(has_claim, F.count(F.lit(1)).over(wy))
        )
        .withColumn("__rm_max_s", F.when(has_claim, F.max(BEST).over(wy)))
        .withColumn("__rm_min_s", F.when(has_claim, F.min(BEST).over(wy)))
    )
    xr = xr.withColumn(
        "__rm_n_at_max",
        F.when(
            has_claim,
            F.count(F.when(F.col(BEST) == F.col("__rm_max_s"), F.lit(1))).over(wy),
        ),
    )
    contested = has_claim & (F.col("__rm_n_claims") > 1)
    dup = contested & (
        (F.col("__rm_n_at_max") > 1)
        | (
            F.abs(F.col("__rm_max_s") - F.col("__rm_min_s"))
            < F.lit(float(cfg.duplicate_threshold))
        )
    )
    loser = contested & ~dup & (F.col(BEST) != F.col("__rm_max_s"))

    final = (
        F.when(dup, "duplicate").when(loser, "unmatched").otherwise(F.col(PHASE1))
    )
    xr = xr.withColumn("__rm_final", final)

    # status display + loser clearing (duplicates KEEP pulled values and
    # annotations, matcher.py:424-431; losers are cleared, 433-447)
    label = F.col("__rm_final")
    for key, shown in MATCH_STATUS.items():
        label = F.when(F.col("__rm_final") == key, F.lit(shown)).otherwise(label)
    xr = xr.withColumn(st_col, label)
    xr = xr.withColumn(rows_col, F.when(loser, F.lit("")).otherwise(F.col(rows_col)))
    xr = xr.withColumn(
        score_col, F.when(loser, F.lit("")).otherwise(F.col(score_col))
    )

    # final projection: pulled targets visible under their x names; NULL for
    # ambiguous/unmatched (incl. losers)
    pull_ok = F.col("__rm_final").isin("matched", "review", "duplicate")
    out_cols = []
    targets = set(cfg.columns_to_get.values())
    for c in x_df.columns:
        if c in targets:
            out_cols.append(
                F.when(pull_ok, F.col(f"__rm_pull_{c}")).otherwise(None).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    for xt in cfg.columns_to_get.values():
        if xt not in x_df.columns:
            out_cols.append(
                F.when(pull_ok, F.col(f"__rm_pull_{xt}")).otherwise(None).alias(xt)
            )
    out_cols += [F.col(st_col), F.col(rows_col), F.col(score_col)]
    if keep_debug:
        out_cols += [
            F.col(PHASE1),
            F.col("__rm_final"),
            F.col(MATCHED_Y),
            F.col(BEST),
            F.col("__rm_n_tied").alias("n_tied"),
            F.col("__rm_opt").alias("__rm_optimal"),
        ]
    return xr.select(*out_cols)


def match_summary(resolved_debug: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(final, reference-compatible) status summaries.

    ``final``: one count per final status — the sane summary
    (``groupBy(match_status).count()``).

    ``ref_compat``: replicates the reference Counter, which increments for
    the phase-1 status AND AGAIN for every duplicate/unmatched re-mark
    (matcher.py:403, 431, 447) — verified this session: 5 rows can yield
    {'matched': 4, 'unmatched': 1, 'duplicate': 2}.

    Requires a DataFrame from ``resolve_matches(..., keep_debug=True)``.
    """
    final = (
        resolved_debug.groupBy(F.col("__rm_final").alias("status"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    p1 = resolved_debug.groupBy(F.col(PHASE1).alias("status")).agg(
        F.count(F.lit(1)).alias("count")
    )
    remarks = (
        resolved_debug.where(F.col("__rm_final") != F.col(PHASE1))
        .groupBy(F.col("__rm_final").alias("status"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    ref_compat = (
        p1.unionByName(remarks)
        .groupBy("status")
        .agg(F.sum("count").alias("count"))
    )
    return final, ref_compat
