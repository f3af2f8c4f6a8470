"""Every ``MatchConfig`` / ``ColumnRule`` guard, and the oracle's unknown
scorer refusal, raise with their message. Pure Python — no SparkSession:
construction and ``validate`` take plain column lists."""

from __future__ import annotations

import re

import pytest

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.errors import InvalidConfigError
from record_matcher_spark.plans.sql_oracle import scorer_sql

COLS = ["row_id", "name", "nk", "tok"]
NAME = ColumnRule("name", ("name",))


def _validate(**cfg):
    return lambda: MatchConfig(**{"rules": (NAME,), **cfg}).validate(COLS, COLS)


def _validate_sides(xs, ys):
    return lambda: MatchConfig(rules=(NAME,)).validate(xs, ys)


CASES = {
    "threshold_type": (
        lambda: ColumnRule("name", ("name",), threshold="80"),
        InvalidConfigError, "Threshold must be a real number.",
    ),
    "cutoff_type": (
        lambda: ColumnRule("name", ("name",), cutoff=1),
        InvalidConfigError, "Cutoff must be a boolean.",
    ),
    "duplicate_rule": (
        lambda: MatchConfig(rules=(NAME, NAME)),
        InvalidConfigError, "Duplicate rule for x column 'name'",
    ),
    "get_targets_unique": (
        lambda: MatchConfig(columns_to_get={"name": "t", "nk": "t"}),
        InvalidConfigError, "columns_to_get targets must be unique",
    ),
    "no_rules": (
        lambda: MatchConfig().validate(COLS, COLS),
        InvalidConfigError, "No matching rules configured",
    ),
    "rule_x_column": (
        _validate(rules=(ColumnRule("nm", ("name",)),)),
        InvalidConfigError, "x column 'nm' not in x schema",
    ),
    "rule_y_column": (
        _validate(rules=(ColumnRule("name", ("nm",)),)),
        InvalidConfigError, "y column 'nm' not in y schema",
    ),
    "scorer_registered": (
        _validate(rules=(ColumnRule("name", ("name",), scorer="nope"),)),
        InvalidConfigError, "scorer 'nope' not registered",
    ),
    "prepped_x": (
        lambda: MatchConfig(
            rules=(ColumnRule("name", ("name",), prepped="tok"),)
        ).validate(["row_id", "name"], COLS),
        InvalidConfigError, "prepped column 'tok' not in x schema",
    ),
    "prepped_y": (
        lambda: MatchConfig(
            rules=(ColumnRule("name", ("name",), prepped="tok"),)
        ).validate(COLS, ["row_id", "name"]),
        InvalidConfigError, "prepped column 'tok' not in y schema",
    ),
    "group_y": (
        _validate(columns_to_group={"zz": "nk"}),
        InvalidConfigError, "group y column 'zz' not in y schema",
    ),
    "group_x": (
        _validate(columns_to_group={"nk": "zz"}),
        InvalidConfigError, "group x column 'zz' not in x schema",
    ),
    "get_y": (
        _validate(columns_to_get={"zz": "out"}),
        InvalidConfigError, "get y column 'zz' not in y schema",
    ),
    "get_overwrites_id": (
        _validate(columns_to_get={"nk": "row_id"}),
        InvalidConfigError, "columns_to_get may not overwrite 'row_id'",
    ),
    "x_id": (
        _validate_sides(["name"], COLS),
        InvalidConfigError, "x_id column 'row_id' not in x schema",
    ),
    "y_id": (
        _validate_sides(COLS, ["name"]),
        InvalidConfigError, "y_id column 'row_id' not in y schema",
    ),
    "oracle_scorer": (
        lambda: scorer_sql("nope", "x", "y"),
        KeyError, "no SQL template for scorer 'nope'",
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_config_guard_raises(case):
    build, exc, message = CASES[case]
    with pytest.raises(exc, match=re.escape(message)):
        build()


def test_valid_config_passes():
    """The base every case above breaks in one place is itself valid."""
    _validate(columns_to_group={"nk": "nk"}, columns_to_get={"nk": "out"})()
    MatchConfig(
        rules=(ColumnRule("name", ("name",), prepped="tok"),)
    ).validate(COLS, COLS)
