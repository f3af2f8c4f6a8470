"""Error types for config validation.

Names mirror the reference's exception surface (/root/reference/
record_matcher/errors.py:1-36) so config-level tests carry over, plus
engine-specific errors for the Spark build.
"""

from __future__ import annotations


class RecordMatcherError(Exception):
    """Base class for all record_matcher_spark errors."""


class TBConfigColumnNotFound(RecordMatcherError):
    """A referenced column does not exist in the bound schema.

    Reference: errors raised at config.py:305-307, 373.
    """

    def __init__(self, column: str, known: object = None) -> None:
        self.column = column
        self.known = known
        msg = f"Column {column!r} not found"
        if known:
            msg += f"; known columns: {sorted(known)}"
        super().__init__(msg)


class TBConfigScorerNotFound(RecordMatcherError):
    """A scorer name is not present in the scorer registry.

    Reference: config.py:371, 400.
    """

    def __init__(self, scorer: object, known: object = None) -> None:
        self.scorer = scorer
        msg = f"Scorer {scorer!r} not found"
        if known:
            msg += f"; known scorers: {sorted(known)}"
        super().__init__(msg)


class TBConfigXUniqueConstraint(RecordMatcherError):
    """columns_to_get target (x column) mapped twice.

    Reference: config.py:252, 258.
    """

    def __init__(self, x_column: object) -> None:
        self.x_column = x_column
        super().__init__(f"ColumnsToGet: target column {x_column!r} already mapped")


class TBConfigOverwriteError(RecordMatcherError):
    """columns_to_get refuses to overwrite an existing x column without
    allow_overwrite.

    Reference: config.py:260.
    """

    def __init__(self, x_column: object) -> None:
        self.x_column = x_column
        super().__init__(
            f"Column {x_column!r} exists in x; set allow_overwrite=True to overwrite"
        )


class TBConfigColumnToMatchLock(RecordMatcherError):
    """Cannot delete a scorer/threshold/cutoff while its column is still
    in columns_to_match.

    Reference: config.py:383, 464, 539.
    """

    def __init__(self, column: str) -> None:
        self.column = column
        super().__init__(
            f"Column {column!r} is locked by columns_to_match; delete it there first"
        )


class InvalidConfigError(RecordMatcherError):
    """Engine-level config validation failure (Spark build fails loudly where
    the reference silently ignored, matcher.py:311-318)."""
