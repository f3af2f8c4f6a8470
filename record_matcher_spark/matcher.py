"""RecordMatcher facade — the end-to-end match pipeline.

Spark-native equivalent of the reference's ``RecordMatcher.match()``
(/root/reference/record_matcher/matcher.py:219-449): blocking join →
weighted pair scoring → argmax/classification → column pull → duplicate
resolution → summaries, composed lazily so Catalyst optimizes the whole
plan (filter pushdown into scans, column pruning of unused input columns,
AQE join planning at runtime).

Differences from the reference, all documented where implemented:
- constructor parameters are honored (the reference's ``__init__`` ignores
  them, matcher.py:283-287);
- config/schema mismatches raise instead of silently no-op
  (matcher.py:311-318);
- duplicate-loser reset clears the actually-pulled target columns
  (reference clears wrongly-named ones, matcher.py:439-440);
- both the sane final summary and the reference's double-counting Counter
  (matcher.py:403,431,447) are exposed.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame

from record_matcher_spark.config import MatchConfig
from record_matcher_spark.operators.resolve import (
    COLUMNS_TO_ADD,
    MATCH_STATUS,
    match_summary,
    resolve_matches,
)
from record_matcher_spark.operators.scoring import score_pairs


def match_records(
    x_df: DataFrame,
    y_df: DataFrame,
    cfg: MatchConfig,
    *,
    status_labels: Mapping[str, str] = MATCH_STATUS,
    columns_to_add: Mapping[str, str] = COLUMNS_TO_ADD,
    keep_debug: bool = False,
) -> DataFrame:
    """One-shot functional pipeline: annotated x DataFrame.

    Mirrors ``RecordMatcher.match()`` (reference matcher.py:320-449) minus
    the mutable-object ceremony. Lazy: nothing executes until an action.
    """
    pairs = score_pairs(x_df, y_df, cfg)
    return resolve_matches(
        x_df,
        y_df,
        pairs,
        cfg,
        status_labels=status_labels,
        columns_to_add=columns_to_add,
        keep_debug=keep_debug,
    )


class RecordMatcher:
    """Object API shaped like the reference's RecordMatcher
    (matcher.py:219-318) over DataFrames.

    >>> rm = RecordMatcher(required_threshold=75.0, duplicate_threshold=0.0)
    >>> rm.x_records = x_df            # DataFrame with cfg.x_id column
    >>> rm.y_records = y_df
    >>> rm.config = MatchConfig(rules=..., columns_to_group=...)
    >>> result = rm.match()            # annotated DataFrame (lazy)
    >>> final, ref_compat = rm.match_summary()
    """

    MATCH_STATUS = MATCH_STATUS
    COLUMNS_TO_ADD = COLUMNS_TO_ADD

    def __init__(
        self,
        required_threshold: float = 75.0,
        duplicate_threshold: float = 0.0,
    ) -> None:
        # the reference ignores its ctor args (matcher.py:283-287); we honor
        # them — divergence documented in SURVEY.md §2.3
        self.required_threshold = float(required_threshold)
        self.duplicate_threshold = float(duplicate_threshold)
        self.x_records: DataFrame | None = None
        self.y_records: DataFrame | None = None
        self._config: MatchConfig | None = None
        self._last_debug: DataFrame | None = None

    @property
    def config(self) -> MatchConfig | None:
        return self._config

    @config.setter
    def config(self, cfg: MatchConfig) -> None:
        if self.x_records is not None and self.y_records is not None:
            # fail loudly where the reference silently ignores
            # (matcher.py:311-318)
            cfg.validate(self.x_records.columns, self.y_records.columns)
        self._config = cfg

    def match(self, **kwargs) -> DataFrame | None:
        if self.x_records is None and self.y_records is None:
            return None  # reference guard, matcher.py:334-335
        if self._config is None:
            raise ValueError("config not set")
        from dataclasses import replace

        cfg = replace(
            self._config,
            required_threshold=self.required_threshold,
            duplicate_threshold=self.duplicate_threshold,
        )
        self._last_debug = match_records(
            self.x_records, self.y_records, cfg, keep_debug=True, **kwargs
        )
        debug_cols = [c for c in self._last_debug.columns if c.startswith("__rm_")]
        drop_extra = [c for c in ("n_tied",) if c in self._last_debug.columns]
        return self._last_debug.drop(*debug_cols, *drop_extra)

    def match_summary(self) -> tuple[dict[str, int], dict[str, int]]:
        """(final, reference-compatible) status→count dicts.

        The ref-compat dict reproduces the reference Counter's
        double-counting of re-labeled rows (matcher.py:403, 431, 447).
        """
        if self._last_debug is None:
            raise ValueError("run match() first")
        final_df, compat_df = match_summary(self._last_debug)
        final = {r["status"]: r["count"] for r in final_df.collect()}
        compat = {r["status"]: r["count"] for r in compat_df.collect()}
        return final, compat
