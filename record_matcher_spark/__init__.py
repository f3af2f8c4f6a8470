"""record_matcher_spark — a from-scratch PySpark-native record-linkage engine.

A blocking + pairwise-scoring + transitive-clustering entity-resolution
pipeline with the query semantics of ``jtai-dev/record_matcher``
(reference snapshot at /root/reference, pure-Python nested-loop matcher),
re-expressed as idiomatic Spark DataFrame algebra:

- blocking       -> salted equi-joins          (reference records.py:106-132)
- pair scoring   -> Catalyst expressions + Arrow-batched pandas UDFs
                    (reference matcher.py:8-216)
- match resolve  -> window argmax + CASE logic (reference matcher.py:320-449)
- clustering     -> large-star/small-star connected components over
                    DataFrame self-joins (not in reference; north-star)

No per-row Python anywhere in the hot path.
"""

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.incremental import apply_merges, match_increment
from record_matcher_spark.matcher import match_records
from record_matcher_spark.operators.scoring import score_pairs, uniqueness_by_columns
from record_matcher_spark.streaming import TranscriptStreamMatcher

__version__ = "0.3.0"

__all__ = [
    "ColumnRule",
    "MatchConfig",
    "TranscriptStreamMatcher",
    "apply_merges",
    "match_increment",
    "match_records",
    "score_pairs",
    "uniqueness_by_columns",
]
