"""``match_records`` — the end-to-end match pipeline.

Spark-native equivalent of the reference's ``RecordMatcher.match()``
(/root/reference/record_matcher/matcher.py:219-449): blocking join →
weighted pair scoring → argmax/classification → column pull → duplicate
resolution → summaries, composed lazily so Catalyst optimizes the whole
plan (filter pushdown into scans, column pruning of unused input columns,
AQE join planning at runtime).

Differences from the reference, all documented where implemented:
- config/schema mismatches raise instead of silently no-op
  (matcher.py:311-318);
- duplicate-loser reset clears the actually-pulled target columns
  (reference clears wrongly-named ones, matcher.py:439-440);
- both the sane final summary and the reference's double-counting Counter
  (matcher.py:403,431,447) are exposed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.operators.resolve import resolve_matches
from record_matcher_spark.operators.scoring import score_pairs


def match_records(
    x_df: DataFrame,
    y_df: DataFrame,
    cfg: MatchConfig,
    *,
    keep_debug: bool = False,
) -> DataFrame:
    """One-shot functional pipeline: annotated x DataFrame.

    Mirrors ``RecordMatcher.match()`` (reference matcher.py:320-449) minus
    the mutable-object ceremony; ``compat.RecordMatcher`` is the
    reference-shaped object API over it. Lazy: nothing executes until an
    action.
    """
    pairs = score_pairs(x_df, y_df, cfg)
    return resolve_matches(x_df, y_df, pairs, cfg, keep_debug=keep_debug)
