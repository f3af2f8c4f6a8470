"""Reference-API compat facade: config semantics + end-to-end match.

Ports the SEMANTICS of the reference's passing config tests
(/root/reference/tests/test_config.py — fixtures re-expressed, not
copied) and drives the dict-of-dicts RecordMatcher end-to-end against the
vendored pure-Python oracle.
"""

from __future__ import annotations

import pytest

from record_matcher_spark import compat
from record_matcher_spark.errors import (
    TBConfigColumnNotFound,
    TBConfigColumnToMatchLock,
    TBConfigOverwriteError,
    TBConfigScorerNotFound,
    TBConfigXUniqueConstraint,
)

X = {
    0: {"name": "amy pond", "city": "leadworth", "ref": "a1"},
    1: {"name": "rory williams", "city": "leadworth", "ref": "a2"},
    2: {"name": "river song", "city": "stormcage", "ref": "a3"},
}
Y = {
    0: {"name": "amy pond", "city": "leadworth", "zip": "01"},
    1: {"name": "rory willlams", "city": "leadworth", "zip": "02"},
    2: {"name": "clara oswald", "city": "london", "zip": "03"},
}


@pytest.fixture()
def cfg():
    c = compat.MatcherConfig()
    c.x_records = X
    c.y_records = Y
    return c


def test_column_capture_and_reset(cfg):
    assert cfg.x_columns == {"name", "city", "ref"}
    assert cfg.y_columns == {"name", "city", "zip"}
    cfg.columns_to_match["name"] = ("name",)
    # re-assigning records with a different column set resets the config
    cfg.x_records = {0: {"other": "x"}}
    assert dict(cfg.columns_to_match) == {}
    assert cfg.x_columns == {"other"}


def test_columns_to_match_semantics(cfg):
    cfg.columns_to_match["name"] = "name"  # scalar rhs accepted
    assert cfg.columns_to_match["name"] == ["name"]
    cfg.columns_to_match["city"] = ("city", "nope")  # unknown y dropped
    assert cfg.columns_to_match["city"] == ["city"]
    with pytest.raises(TBConfigColumnNotFound):
        cfg.columns_to_match["unknown_x"] = ("name",)
    # unknown key read returns a detached empty list, not KeyError
    assert cfg.columns_to_match["never_set"] == []
    # auto-seeded defaults
    assert cfg.scorers_by_column["name"] == "exact_match"
    assert cfg.thresholds_by_column["name"] == 75.0
    assert cfg.cutoffs_by_column["name"] is False
    # cascade delete
    del cfg.columns_to_match["name"]
    assert "name" not in cfg.scorers_by_column
    assert "name" not in cfg.thresholds_by_column


def test_columns_to_get_semantics(cfg):
    cfg.columns_to_get["zip"] = "zipcode"
    assert cfg.columns_to_get["zip"] == "zipcode"
    cfg.columns_to_get["bogus"] = "whatever"  # silently ignored
    assert "bogus" not in cfg.columns_to_get
    with pytest.raises(TBConfigXUniqueConstraint):
        cfg.columns_to_get["name"] = "zipcode"
    with pytest.raises(TBConfigOverwriteError):
        cfg.columns_to_get["city"] = "ref"  # existing x column
    cfg.columns_to_get.allow_overwrite = True
    cfg.columns_to_get["city"] = "ref"
    assert cfg.columns_to_get["city"] == "ref"


def test_columns_to_group_semantics(cfg):
    cfg.columns_to_group["city"] = "city"
    with pytest.raises(TBConfigColumnNotFound):
        cfg.columns_to_group["nope"] = "city"
    with pytest.raises(TBConfigColumnNotFound):
        cfg.columns_to_group["city"] = "nope"


def test_scorer_registry_semantics(cfg):
    cfg.columns_to_match["name"] = ("name",)
    with pytest.raises(TBConfigScorerNotFound):
        cfg.scorers_by_column["name"] = "not_a_scorer"
    with pytest.raises(TBConfigColumnNotFound):
        cfg.scorers_by_column["nope"] = "exact_match"
    with pytest.raises(TBConfigColumnToMatchLock):
        del cfg.scorers_by_column["name"]
    # custom scorer injection (removed after — the registry is global and
    # test_scorers asserts blank semantics over every registered scorer)
    compat.ScorersByColumn.register(
        "halved_exact", lambda a, b: 50.0 if a == b else 0.0
    )
    try:
        cfg.scorers_by_column["name"] = "halved_exact"
        assert cfg.scorers_by_column["name"] == "halved_exact"
    finally:
        cfg.scorers_by_column["name"] = "exact_match"
        from record_matcher_spark.functions.scorers import SCORERS

        SCORERS.pop("halved_exact", None)


def test_threshold_cutoff_validation(cfg):
    cfg.columns_to_match["name"] = ("name",)
    with pytest.raises(TypeError):
        cfg.thresholds_by_column["name"] = "high"
    with pytest.raises(TypeError):
        cfg.cutoffs_by_column["name"] = 1
    cfg.thresholds_by_column["name"] = 90.0
    cfg.cutoffs_by_column["name"] = True
    with pytest.raises(TBConfigColumnToMatchLock):
        del cfg.thresholds_by_column["name"]
    with pytest.raises(TBConfigColumnToMatchLock):
        del cfg.cutoffs_by_column["name"]


def test_populate(cfg):
    cfg.populate()
    assert set(cfg.columns_to_match) == {"name", "city"}


def test_end_to_end_vs_oracle(spark):
    from tests.oracle import oracle_match

    rm = compat.RecordMatcher(spark)
    rm.x_records = X
    rm.y_records = Y
    rm.config.columns_to_match["name"] = ("name",)
    rm.config.columns_to_match["city"] = ("city",)
    rm.config.scorers_by_column["name"] = "levenshtein_ratio"
    rm.config.columns_to_get["zip"] = "zip"
    annotated, summary = rm.match()

    from dataclasses import replace

    cfg = replace(
        rm.config.to_match_config(),
        required_threshold=rm.required_threshold,
        duplicate_threshold=rm.duplicate_threshold,
    )
    o_annotated, o_final, o_compat = oracle_match(X, Y, cfg)
    assert set(annotated) == set(o_annotated)
    for i in annotated:
        assert (
            annotated[i]["match_status"] == o_annotated[i]["match_status"]
        ), (i, annotated[i], o_annotated[i])
        assert annotated[i].get("zip") == o_annotated[i].get("zip"), i
    assert dict(summary) == {k: v for k, v in o_compat.items() if v}


def test_match_empty_guard(spark):
    rm = compat.RecordMatcher(spark)
    assert rm.match() is None
