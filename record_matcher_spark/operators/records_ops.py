"""Standalone record utility (reference O5).

A helper the reference ships outside the matcher loop (its records.py),
as a DataFrame transformation. Its column-set capture (O1) is free in
Spark, where the schema is fixed at ingest; its standalone
group-by-values filter (O4) is the blocking equi-join inside
operators/scoring.score_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.functions.scorers import blank_coalesce


def duplicated_by_column(df: DataFrame, column: str) -> DataFrame:
    """O5 (records.py:135-153): rows whose non-blank value in ``column``
    occurs more than once.

    groupBy + left-semi join instead of a value-partitioned window: the
    aggregate combines map-side (a hot value arrives at its reducer as a
    handful of partial counts, not all its rows), and the join back is a
    plain equi-join AQE can broadcast or skew-split — no single task ever
    holds a hot value's full row set. (The reference's own test calls a
    stale name ``records.duplicated``, tests/test_records.py:57 — renamed
    at records.py:135.)
    """
    s = blank_coalesce(F.col(column))
    dup_vals = (
        df.select(s.alias("__rm_dup_v"))
        .where(F.col("__rm_dup_v") != "")
        .groupBy("__rm_dup_v")
        .agg(F.count(F.lit(1)).alias("__rm_dup_n"))
        .where(F.col("__rm_dup_n") > 1)
        .select("__rm_dup_v")
    )
    return (
        df.join(dup_vals, s == F.col("__rm_dup_v"), "left_semi")
    )
