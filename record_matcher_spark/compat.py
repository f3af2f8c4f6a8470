"""Reference-compatible dict-of-dicts facade over the Spark engine.

A user of the reference (`jtai-dev/record_matcher`) drives matching with
in-memory ``dict[int, dict[str, str]]`` records and a mutable validated
config (README.md:7-26). This module reproduces that public surface —
``MatcherConfig`` with its six validated dict views (reference
config.py:4-551) and a ``RecordMatcher`` whose ``match()`` returns the
annotated records dict plus a ``Counter``-style summary
(matcher.py:219-449) — while executing through the Spark pipeline
(scoring/resolve operators), so switching engines is an import change.

Semantics parity notes (each cites the reference behavior it mirrors):
- assigning x_records/y_records captures the column set; re-assigning with
  a DIFFERENT column set resets all config views (config.py:54-63, 88-94);
- setting ``columns_to_match[x]`` validates x against the x schema, drops
  unknown y columns silently, accepts scalar or sequence RHS, and
  auto-seeds scorer/threshold/cutoff defaults (config.py:138-178);
- deleting a match column cascade-deletes its scorer/threshold/cutoff
  (config.py:186-193); deleting those directly while the column is mapped
  raises ``TBConfigColumnToMatchLock`` (config.py:379-383, 460-464,
  526-539);
- ``columns_to_get`` silently ignores unknown y columns, enforces unique
  targets (``TBConfigXUniqueConstraint``) and refuses overwriting existing
  x columns without ``allow_overwrite`` (config.py:240-260);
- ``columns_to_group`` raises ``TBConfigColumnNotFound`` on either side
  (config.py:300-307);
- scorer assignment validates the name against the pluggable registry
  (``TBConfigScorerNotFound``; custom scorers injectable as in
  tests/test_config.py:194-202 — a Spark Column expression or a plain
  ``Callable[[str, str], float]`` wrapped as a pandas UDF);
- ``RecordMatcher.match()`` output adds ``match_status``,
  ``row(s)_matched``, ``match_score`` (matcher.py:277-281, 390-401) and
  pulled columns; the returned summary reproduces the reference Counter
  INCLUDING its double-count of re-labeled rows (matcher.py:403, 431, 447
  — [verified] in SURVEY.md §2.1 O12).

Documented divergences (SURVEY.md §5.2): constructor thresholds are
honored; the duplicate-loser reset clears the actually-pulled columns.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from record_matcher_spark import config as cfgmod
from record_matcher_spark.errors import (
    TBConfigColumnNotFound,
    TBConfigColumnToMatchLock,
    TBConfigOverwriteError,
    TBConfigScorerNotFound,
    TBConfigXUniqueConstraint,
)
from record_matcher_spark.functions import scorers as scorer_registry

Records = dict[int, dict[str, str]]

_ROW_ID = "__rm_compat_row_id"


def column_names(records: Records) -> set[str]:
    """Union of keys across rows (reference records.py:33-46)."""
    return {c for i in records for c in records[i]}


# --------------------------------------------------------------------------
# validated config views (reference config.py:101-551)
# --------------------------------------------------------------------------


class _View(dict):
    """Base for the validated dict views; holds a backref to the owner."""

    def __init__(self, owner: "MatcherConfig") -> None:
        super().__init__()
        self._owner = owner


class ColumnsToMatch(_View):
    """{x_col: [y_col, ...]} (reference config.py:101-193)."""

    def __setitem__(self, x_column: str, y_columns) -> None:
        if x_column not in self._owner.x_columns:
            raise TBConfigColumnNotFound(x_column, self._owner.x_columns)
        if isinstance(y_columns, str):
            y_columns = (y_columns,)
        # unknown y columns silently dropped (config.py:162-174)
        kept = [y for y in y_columns if y in self._owner.y_columns]
        super().__setitem__(x_column, list(kept))
        # auto-seed defaults (config.py:176-178)
        self._owner.scorers_by_column.setdefault(
            x_column, cfgmod.DEFAULT_SCORER
        )
        self._owner.thresholds_by_column.setdefault(
            x_column, cfgmod.DEFAULT_THRESHOLD
        )
        self._owner.cutoffs_by_column.setdefault(
            x_column, cfgmod.DEFAULT_CUTOFF
        )

    def __missing__(self, x_column: str):
        # reference returns a detached list for unknown keys
        # (config.py:180-184) — reads never KeyError, writes to the
        # detached list don't register
        return []

    def __delitem__(self, x_column: str) -> None:
        super().__delitem__(x_column)
        # cascade delete (config.py:186-193)
        dict.pop(self._owner.scorers_by_column, x_column, None)
        dict.pop(self._owner.thresholds_by_column, x_column, None)
        dict.pop(self._owner.cutoffs_by_column, x_column, None)


class ColumnsToGet(_View):
    """{y_col: x_target} (reference config.py:196-261)."""

    def __init__(self, owner: "MatcherConfig", allow_overwrite: bool = False):
        super().__init__(owner)
        self.allow_overwrite = allow_overwrite

    def __setitem__(self, y_column: str, x_target: str) -> None:
        if y_column not in self._owner.y_columns:
            return  # silently ignored (config.py:242-243)
        if x_target in self.values():
            raise TBConfigXUniqueConstraint(x_target)
        if x_target in self._owner.x_columns and not self.allow_overwrite:
            raise TBConfigOverwriteError(x_target)
        super().__setitem__(y_column, x_target)


class ColumnsToGroup(_View):
    """{y_col: x_col} blocking keys (reference config.py:263-307)."""

    def __setitem__(self, y_column: str, x_column: str) -> None:
        if y_column not in self._owner.y_columns:
            raise TBConfigColumnNotFound(y_column, self._owner.y_columns)
        if x_column not in self._owner.x_columns:
            raise TBConfigColumnNotFound(x_column, self._owner.x_columns)
        super().__setitem__(y_column, x_column)


class ScorersByColumn(_View):
    """{x_col: scorer_name}; pluggable registry (config.py:310-400)."""

    def __setitem__(self, x_column: str, scorer: str) -> None:
        if x_column not in self._owner.x_columns:
            raise TBConfigColumnNotFound(x_column, self._owner.x_columns)
        if scorer not in scorer_registry.SCORERS:
            raise TBConfigScorerNotFound(
                scorer, scorer_registry.SCORERS.keys()
            )
        super().__setitem__(x_column, scorer)

    def __delitem__(self, x_column: str) -> None:
        if x_column in self._owner.columns_to_match:
            raise TBConfigColumnToMatchLock(x_column)  # config.py:379-383
        super().__delitem__(x_column)

    @staticmethod
    def register(
        name: str, fn: Callable[[str, str], float] | None = None, **kwargs
    ):
        """Inject a custom scorer (reference SCORERS dict assignment,
        tests/test_config.py:194-202). ``fn`` is a plain pair function;
        it becomes both the Arrow-batched Spark scorer and the oracle
        twin."""
        expr = kwargs.pop("expr", None)
        if expr is None:
            expr = scorer_registry._make_pandas_scorer(fn)
        return scorer_registry.register_scorer(
            name, expr, fn, **kwargs
        )


class _LockedDefaults(_View):
    """Shared behavior of thresholds/cutoffs (config.py:403-551)."""

    default: object = None

    def _check(self, value) -> None:
        raise NotImplementedError

    def __setitem__(self, x_column: str, value) -> None:
        if x_column not in self._owner.x_columns:
            raise TBConfigColumnNotFound(x_column, self._owner.x_columns)
        self._check(value)
        super().__setitem__(x_column, value)

    def __delitem__(self, x_column: str) -> None:
        if x_column in self._owner.columns_to_match:
            raise TBConfigColumnToMatchLock(x_column)
        super().__delitem__(x_column)


class ThresholdsByColumn(_LockedDefaults):
    default = cfgmod.DEFAULT_THRESHOLD

    def _check(self, value) -> None:
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise TypeError("threshold must be a real number")


class CutoffsByColumn(_LockedDefaults):
    default = cfgmod.DEFAULT_CUTOFF

    def _check(self, value) -> None:
        if not isinstance(value, bool):
            raise TypeError("cutoff must be a boolean")


class MatcherConfig:
    """Mutable validated configuration (reference config.py:4-98)."""

    def __init__(self) -> None:
        self.x_columns: set[str] = set()
        self.y_columns: set[str] = set()
        self._fresh_views()

    def _fresh_views(self) -> None:
        self.columns_to_match = ColumnsToMatch(self)
        self.columns_to_get = ColumnsToGet(self)
        self.columns_to_group = ColumnsToGroup(self)
        self.scorers_by_column = ScorersByColumn(self)
        self.thresholds_by_column = ThresholdsByColumn(self)
        self.cutoffs_by_column = CutoffsByColumn(self)

    @property
    def x_records(self) -> None:
        return None  # records are not retained by the config (schema only)

    @x_records.setter
    def x_records(self, records: Records) -> None:
        cols = column_names(records)
        if self.x_columns and cols != self.x_columns:
            self._fresh_views()  # reset on schema change (config.py:57-63)
        self.x_columns = cols

    @property
    def y_records(self) -> None:
        return None

    @y_records.setter
    def y_records(self, records: Records) -> None:
        cols = column_names(records)
        if self.y_columns and cols != self.y_columns:
            self._fresh_views()  # config.py:88-94
        self.y_columns = cols

    def populate(self) -> None:
        """Auto-map identically-named columns (config.py:96-98)."""
        for c in sorted(self.x_columns & self.y_columns):
            self.columns_to_match[c] = (c,)

    def to_match_config(self) -> cfgmod.MatchConfig:
        rules = tuple(
            cfgmod.ColumnRule(
                x_column=x,
                y_columns=tuple(ys),
                scorer=self.scorers_by_column.get(x, cfgmod.DEFAULT_SCORER),
                threshold=self.thresholds_by_column.get(
                    x, cfgmod.DEFAULT_THRESHOLD
                ),
                cutoff=self.cutoffs_by_column.get(x, cfgmod.DEFAULT_CUTOFF),
            )
            for x, ys in self.columns_to_match.items()
        )
        return cfgmod.MatchConfig(
            rules=rules,
            columns_to_group=dict(self.columns_to_group),
            columns_to_get=dict(self.columns_to_get),
            x_id=_ROW_ID,
            y_id=_ROW_ID,
        )


# --------------------------------------------------------------------------
# records <-> DataFrame conversion
# --------------------------------------------------------------------------


def _to_df(spark: SparkSession, records: Records, columns: set[str]):
    """dict-of-dicts -> DataFrame[__row_id, *columns] (all strings;
    missing keys -> NULL, reference blank semantics matcher.py:78-81)."""
    cols = sorted(columns)
    schema = StructType(
        [StructField(_ROW_ID, StringType())]
        + [StructField(c, StringType()) for c in cols]
    )
    rows = [
        tuple(
            [str(i)]
            + [
                None if c not in r or r[c] is None else str(r[c])
                for c in cols
            ]
        )
        for i, r in records.items()
    ]
    return spark.createDataFrame(rows, schema)


class RecordMatcher:
    """Reference-shaped matcher over dict records (matcher.py:219-449).

    >>> rm = RecordMatcher(spark)
    >>> rm.x_records = {0: {"name": "Ann", "city": "X"}, ...}
    >>> rm.y_records = {0: {"name": "Anne", "city": "X"}, ...}
    >>> rm.config.columns_to_match["name"] = ("name",)
    >>> records_matched, summary = rm.match()
    """

    def __init__(
        self,
        spark: SparkSession | None = None,
        required_threshold: float = 75.0,
        duplicate_threshold: float = 0.0,
    ) -> None:
        # ctor args honored (reference drops them, matcher.py:283-287 —
        # documented divergence)
        self._spark = spark
        self.required_threshold = float(required_threshold)
        self.duplicate_threshold = float(duplicate_threshold)
        self._x: Records = {}
        self._y: Records = {}
        self.config = MatcherConfig()

    def _session(self) -> SparkSession:
        if self._spark is not None:
            return self._spark
        active = SparkSession.getActiveSession()
        if active is None:
            raise RuntimeError(
                "no SparkSession: pass one to RecordMatcher(spark)"
            )
        return active

    @property
    def x_records(self) -> Records:
        return {i: dict(r) for i, r in self._x.items()}  # matcher.py:290-291

    @x_records.setter
    def x_records(self, records: Records) -> None:
        self._x = records
        self.config.x_records = records

    @property
    def y_records(self) -> Records:
        return {i: dict(r) for i, r in self._y.items()}

    @y_records.setter
    def y_records(self, records: Records) -> None:
        self._y = records
        self.config.y_records = records

    def match(self) -> tuple[Records, Counter] | None:
        """-> (annotated copy of x_records, summary Counter).

        The Counter reproduces the reference's double-counting of rows
        re-labeled by duplicate resolution (matcher.py:403, 431, 447).
        """
        if not self._x and not self._y:
            return None  # reference guard matcher.py:334-335
        from dataclasses import replace

        from record_matcher_spark.matcher import match_records
        from record_matcher_spark.operators.resolve import match_summary

        spark = self._session()
        cfg = replace(
            self.config.to_match_config(),
            required_threshold=self.required_threshold,
            duplicate_threshold=self.duplicate_threshold,
        )
        x_df = _to_df(spark, self._x, self.config.x_columns)
        y_df = _to_df(spark, self._y, self.config.y_columns)
        resolved = match_records(x_df, y_df, cfg, keep_debug=True)
        out_rows = resolved.collect()

        annotated: Records = {}
        added = ("match_status", "row(s)_matched", "match_score")
        pulled = tuple(cfg.columns_to_get.values())
        for row in out_rows:
            i = int(row[_ROW_ID])
            rec = dict(self._x[i])
            for c in added + pulled:
                if c in row.__fields__:
                    rec[c] = row[c]
            annotated[i] = rec

        final_df, compat_df = match_summary(resolved)
        summary = Counter(
            {r["status"]: r["count"] for r in compat_df.collect()}
        )
        return annotated, summary
