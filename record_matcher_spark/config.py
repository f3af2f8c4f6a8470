"""Declarative match configuration.

The reference drives matching from six validated dicts owned by
``MatcherConfig`` (/root/reference/record_matcher/config.py:4-98):
``columns_to_match`` {x_col: [y_cols]}, ``columns_to_group`` {y_col: x_col},
``columns_to_get`` {y_col: x_col}, plus per-x-column scorer / threshold /
cutoff maps seeded with defaults (exact_match / 75.0 / False,
config.py:349-350, 437, 512).

The Spark build replaces the mutable validated-dict API with an immutable
declarative config validated against DataFrame schemas at
plan-build time — failing loudly where the reference silently ignored
mismatches (matcher.py:311-318). A reference-compatible mutable facade
lives in :mod:`record_matcher_spark.compat`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Mapping

from record_matcher_spark.errors import InvalidConfigError

DEFAULT_SCORER = "exact_match"  # reference config.py:350
DEFAULT_THRESHOLD = 75.0  # reference config.py:437
DEFAULT_CUTOFF = False  # reference config.py:512
DEFAULT_REQUIRED_THRESHOLD = 75.0  # reference matcher.py:284
DEFAULT_DUPLICATE_THRESHOLD = 0.0  # reference matcher.py:285


@dataclass(frozen=True)
class ColumnRule:
    """One x-column matching rule.

    Bundles what the reference spreads across four dicts keyed by x_column
    (columns_to_match / scorers_by_column / thresholds_by_column /
    cutoffs_by_column; config.py:101-551). Rule order matters: column score
    contributions are accumulated in rule order, matching the reference's
    iteration over ``columns_to_match.items()`` (matcher.py:186-200).
    """

    x_column: str
    y_columns: tuple[str, ...]
    scorer: str = DEFAULT_SCORER
    threshold: float = DEFAULT_THRESHOLD
    cutoff: bool = DEFAULT_CUTOFF
    #: Optional name of a column that ALREADY holds this rule's scorer
    #: ``prep`` payload (e.g. the rollup's tokenize-once ``tok_hashes``
    #: for ``token_set_jaccard``). Scoring then reads it on x, and on y
    #: when ``x_column`` is one of ``y_columns``, instead of running the
    #: prep expression; :meth:`MatchConfig.validate` requires it on those
    #: sides. The caller guarantees the column's values equal
    #: ``scorer.prep(blank_coalesce(x_column))`` up to element order
    #: (consumers are order-insensitive set operations). Only read for
    #: scorers with a prep phase.
    prepped: str | None = None

    def __post_init__(self) -> None:
        if isinstance(self.y_columns, str):
            object.__setattr__(self, "y_columns", (self.y_columns,))
        else:
            object.__setattr__(self, "y_columns", tuple(self.y_columns))
        if not isinstance(self.threshold, (int, float)) or isinstance(
            self.threshold, bool
        ):
            raise InvalidConfigError("Threshold must be a real number.")
        if not isinstance(self.cutoff, bool):
            raise InvalidConfigError("Cutoff must be a boolean.")


@dataclass(frozen=True)
class MatchConfig:
    """Full, immutable configuration of one match run.

    Parameters
    ----------
    rules:
        Ordered x-column matching rules (see :class:`ColumnRule`).
    columns_to_group:
        Blocking keys ``{y_col: x_col}``: candidate pairs require
        string-equality of every mapped pair (reference records.py:106-132,
        invoked per-x at matcher.py:179-182). Empty => cross join (the
        reference compares every x against every y), so large inputs
        need a blocking spec.
    columns_to_get:
        Enrichment projection ``{y_col: x_col_target}``: on a single
        surviving match, copy y values into (possibly new) x columns
        (reference matcher.py:368-371).
    required_threshold:
        Minimum row score for a candidate to count as a match
        (reference matcher.py:284, 357-361).
    duplicate_threshold:
        Two+ x rows claiming one y: if the max-min score gap is below this
        (or they tie at max) all claimants become DUPLICATE, else losers are
        reset to UNMATCHED (reference matcher.py:408-447).
    x_id / y_id:
        Name of the unique row-id column in each input. Replaces the
        reference's dict row index (records.py:5-30).
    """

    rules: tuple[ColumnRule, ...] = ()
    columns_to_group: Mapping[str, str] = field(default_factory=dict)
    columns_to_get: Mapping[str, str] = field(default_factory=dict)
    required_threshold: float = DEFAULT_REQUIRED_THRESHOLD
    duplicate_threshold: float = DEFAULT_DUPLICATE_THRESHOLD
    x_id: str = "row_id"
    y_id: str = "row_id"

    def __post_init__(self) -> None:
        object.__setattr__(self, "rules", tuple(self.rules))
        object.__setattr__(self, "columns_to_group", dict(self.columns_to_group))
        object.__setattr__(self, "columns_to_get", dict(self.columns_to_get))
        seen: set[str] = set()
        for rule in self.rules:
            if rule.x_column in seen:
                raise InvalidConfigError(
                    f"Duplicate rule for x column {rule.x_column!r}"
                )
            seen.add(rule.x_column)
        targets = list(self.columns_to_get.values())
        if len(set(targets)) != len(targets):
            raise InvalidConfigError(
                "columns_to_get targets must be unique (reference "
                "TBConfigXUniqueConstraint, config.py:249-258)"
            )

    # -- derived views ----------------------------------------------------

    @property
    def x_match_columns(self) -> tuple[str, ...]:
        return tuple(r.x_column for r in self.rules)

    # -- validation --------------------------------------------------------

    def validate(
        self, x_columns: Iterable[str], y_columns: Iterable[str]
    ) -> None:
        """Validate against the bound DataFrame schemas.

        Fails loudly (InvalidConfigError) where the reference silently
        dropped or ignored (config.py:162-174, matcher.py:311-318).
        """
        from record_matcher_spark.functions.scorers import SCORERS

        xs, ys = set(x_columns), set(y_columns)
        if not self.rules:
            raise InvalidConfigError("No matching rules configured")
        for r in self.rules:
            if r.x_column not in xs:
                raise InvalidConfigError(f"x column {r.x_column!r} not in x schema")
            for yc in r.y_columns:
                if yc not in ys:
                    raise InvalidConfigError(f"y column {yc!r} not in y schema")
            if r.scorer not in SCORERS:
                raise InvalidConfigError(
                    f"scorer {r.scorer!r} not registered ({sorted(SCORERS)})"
                )
            if r.prepped is not None:
                if r.prepped not in xs:
                    raise InvalidConfigError(
                        f"prepped column {r.prepped!r} not in x schema"
                    )
                if r.x_column in r.y_columns and r.prepped not in ys:
                    raise InvalidConfigError(
                        f"prepped column {r.prepped!r} not in y schema"
                    )
        for yc, xc in self.columns_to_group.items():
            if yc not in ys:
                raise InvalidConfigError(f"group y column {yc!r} not in y schema")
            if xc not in xs:
                raise InvalidConfigError(f"group x column {xc!r} not in x schema")
        for yc, xt in self.columns_to_get.items():
            if yc not in ys:
                raise InvalidConfigError(f"get y column {yc!r} not in y schema")
            if xt in (self.x_id,):
                raise InvalidConfigError(f"columns_to_get may not overwrite {xt!r}")
        if self.x_id not in xs:
            raise InvalidConfigError(f"x_id column {self.x_id!r} not in x schema")
        if self.y_id not in ys:
            raise InvalidConfigError(f"y_id column {self.y_id!r} not in y schema")
