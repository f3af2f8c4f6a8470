"""Differential tests: the Spark pipeline must agree with the vendored
pure-Python reference-semantics oracle (SURVEY.md §5.3) — per-pair scores,
statuses, pulled columns, annotations, and both summaries."""

from __future__ import annotations

import math
import random

import pytest

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.matcher import match_records
from record_matcher_spark.operators.resolve import match_summary
from record_matcher_spark.operators.scoring import score_pairs
from tests.oracle import oracle_match, oracle_score_pairs
from tests.helpers import df_to_records, records_to_df, stringify_records

TOL = 1e-9


def assert_match_equal(spark, x_records, y_records, cfg):
    """Run Spark pipeline + oracle on the same records and diff everything."""
    xs = stringify_records(x_records)
    ys = stringify_records(y_records)
    x_df = records_to_df(spark, x_records)
    y_df = records_to_df(spark, y_records)

    # 1. scored pairs
    got_pairs = {
        (r["x_id"], r["y_id"]): r["row_score"]
        for r in score_pairs(x_df, y_df, cfg).collect()
    }
    exp_scores = oracle_score_pairs(xs, ys, cfg)
    exp_pairs = {
        (xi, yi): s for xi, d in exp_scores.items() for yi, s in d.items()
    }
    assert set(got_pairs) == set(exp_pairs), (
        f"pair sets differ: only_spark={set(got_pairs) - set(exp_pairs)} "
        f"only_oracle={set(exp_pairs) - set(got_pairs)}"
    )
    for k, v in exp_pairs.items():
        assert math.isclose(got_pairs[k], v, rel_tol=0, abs_tol=TOL), (k, got_pairs[k], v)

    # 2. full pipeline
    result = match_records(x_df, y_df, cfg, keep_debug=True)
    final_df, compat_df = match_summary(result)
    got = df_to_records(result.drop("__rm_phase1", "__rm_final", "__rm_matched_y",
                                    "__rm_best_score", "n_tied", "__rm_optimal"))
    exp, exp_final, exp_compat = oracle_match(xs, ys, cfg)

    assert set(got) == set(exp)
    for xi in exp:
        g, e = got[xi], exp[xi]
        assert g["match_status"] == e["match_status"], (xi, g, e)
        assert g["row(s)_matched"] == e["row(s)_matched"], (xi, g, e)
        # match_score strings compared numerically (Java vs Python float repr)
        gs = [float(v) for v in g["match_score"].split(", ") if v]
        es = [float(v) for v in e["match_score"].split(", ") if v]
        assert len(gs) == len(es), (xi, g, e)
        for a, b in zip(gs, es):
            assert math.isclose(a, b, rel_tol=0, abs_tol=TOL), (xi, a, b)
        for xt in cfg.columns_to_get.values():
            assert g.get(xt) == e.get(xt), (xi, xt, g.get(xt), e.get(xt))

    got_final = {r["status"]: r["count"] for r in final_df.collect()}
    got_compat = {r["status"]: r["count"] for r in compat_df.collect()}
    assert got_final == exp_final
    assert got_compat == exp_compat


# --------------------------------------------------------------------------
# README example (reference README.md:7-43)
# --------------------------------------------------------------------------

README_X = {
    0: {"id": 10244, "firstname": "Rube", "lastname": "Miller", "country": "USA", "sex": "M", "age": 27},
    1: {"id": 23012, "firstname": "Kim", "lastname": "Thornton", "country": "UK", "sex": "F", "age": 39},
    2: {"id": 46882, "firstname": "Jane", "lastname": "van Doe", "country": "NL", "sex": "F", "age": 16},
    3: {"id": 51459, "firstname": "Luca", "lastname": "Schmidt", "country": "Germany", "sex": "F", "age": 8},
}
README_Y = {
    0: {"id": "A1X012", "firstname": "Reuben", "nickname": "Rube", "lastname": "Miller", "country": "USA", "sex": "Male", "age": 27},
    1: {"id": "B0C105", "firstname": "Kimberly", "nickname": "Kim", "lastname": "Thornton", "country": "UK", "sex": "Female", "age": 39},
    2: {"id": "C4L092", "firstname": "Jane", "nickname": "Jane", "lastname": "van Doe", "country": "NL", "sex": "Female", "age": 16},
    3: {"id": "D2P451", "firstname": "Jonathan", "nickname": "Jon", "lastname": "Schmidt", "country": "Germany", "sex": "Male", "age": 45},
}


def test_readme_example(spark):
    cfg = MatchConfig(
        rules=(
            ColumnRule("firstname", ("firstname", "nickname"), scorer="jaro_winkler", threshold=85.0),
            ColumnRule("lastname", ("lastname",), scorer="levenshtein_ratio", threshold=85.0),
            ColumnRule("age", ("age",)),
        ),
        columns_to_group={"country": "country"},
        columns_to_get={"id": "matched_id"},
    )
    assert_match_equal(spark, README_X, README_Y, cfg)


def test_readme_matches_expected_ids(spark):
    """Semantic sanity on top of oracle agreement: the three true persons
    match; Luca (no counterpart, country-blocked vs Jonathan only) doesn't
    match Jonathan at full score."""
    cfg = MatchConfig(
        rules=(
            ColumnRule("firstname", ("firstname", "nickname"), scorer="jaro_winkler", threshold=85.0),
            ColumnRule("lastname", ("lastname",), scorer="levenshtein_ratio", threshold=85.0),
        ),
        columns_to_group={"country": "country"},
        columns_to_get={"id": "matched_id"},
    )
    x_df = records_to_df(spark, README_X)
    y_df = records_to_df(spark, README_Y)
    res = df_to_records(match_records(x_df, y_df, cfg))
    assert res[0]["matched_id"] == "A1X012"
    assert res[1]["matched_id"] == "B0C105"
    assert res[2]["matched_id"] == "C4L092"
    assert res[0]["match_status"] in ("MATCHED", "REVIEW")


# --------------------------------------------------------------------------
# crafted status coverage (FIXTURES.md §F3)
# --------------------------------------------------------------------------


def test_all_status_paths(spark):
    """One fixture exercising MATCHED, REVIEW, AMBIGUOUS, UNMATCHED (via
    blocking), DUPLICATE (tie on one y), and the loser-reset path."""
    # uniqueness: names 6/8, codes 4/8 -> weights 0.6 / 0.4 when both present
    x = {
        0: {"name": "alpha", "grp": "g1", "code": "T0"},   # 100 -> MATCHED y0
        1: {"name": "beta", "grp": "g1", "code": ""},      # blank code, w_name=1:
                                                           # ties y1/y2 -> AMBIGUOUS
        2: {"name": "gamma", "grp": "zz", "code": "c3"},   # blocked out -> UNMATCHED
        3: {"name": "delta", "grp": "g2", "code": "T3"},   # dup tie with 4 on y3
        4: {"name": "delta", "grp": "g2", "code": "T3"},   # dup tie with 3 on y3
        5: {"name": "epsilonX", "grp": "g3", "code": "T4"},  # 92.5: loser vs 6 on y4
        6: {"name": "epsilon", "grp": "g3", "code": "T4"},   # 100: winner on y4
        7: {"name": "", "grp": "g1", "code": ""},          # all blank -> UNMATCHED
    }
    y = {
        0: {"name": "alpha", "grp": "g1", "tag": "T0"},
        1: {"name": "beta", "grp": "g1", "tag": "T1"},
        2: {"name": "beta", "grp": "g1", "tag": "T2"},
        3: {"name": "delta", "grp": "g2", "tag": "T3"},
        4: {"name": "epsilon", "grp": "g3", "tag": "T4"},
    }
    cfg = MatchConfig(
        rules=(
            ColumnRule("name", ("name",), scorer="levenshtein_ratio", threshold=75.0),
            ColumnRule("code", ("tag",), scorer="exact_match"),
        ),
        columns_to_group={"grp": "grp"},
        columns_to_get={"tag": "y_tag"},
    )
    assert_match_equal(spark, x, y, cfg)

    res = df_to_records(
        match_records(records_to_df(spark, x), records_to_df(spark, y), cfg)
    )
    assert res[0]["match_status"] == "MATCHED"
    assert res[1]["match_status"] == "AMBIGUOUS"
    assert res[2]["match_status"] == "UNMATCHED"
    assert res[3]["match_status"] == "DUPLICATE"
    assert res[4]["match_status"] == "DUPLICATE"
    # duplicates KEEP pulled columns (matcher.py:424-431)
    assert res[3]["y_tag"] == "T3" and res[4]["y_tag"] == "T3"
    # x5 scores lower than x6 on y4 -> loser reset to UNMATCHED, cleared
    assert res[6]["match_status"] in ("MATCHED", "REVIEW")
    assert res[5]["match_status"] == "UNMATCHED"
    assert res[5]["y_tag"] is None and res[5]["row(s)_matched"] == ""
    assert res[7]["match_status"] == "UNMATCHED"


def test_review_status(spark):
    """REVIEW fires when required <= score <= optimal (matcher.py:363-366):
    with thresholds at 100 and an exact match, score == optimal == 100."""
    x = {0: {"a": "v1", "b": "w1"}, 1: {"a": "v2", "b": "w2"}}
    y = {0: {"a": "v1", "b": "w1"}, 1: {"a": "v2", "b": "zz"}}
    cfg = MatchConfig(
        rules=(
            ColumnRule("a", ("a",), threshold=100.0),
            ColumnRule("b", ("b",), threshold=100.0),
        ),
    )
    assert_match_equal(spark, x, y, cfg)
    res = df_to_records(
        match_records(records_to_df(spark, x), records_to_df(spark, y), cfg)
    )
    assert res[0]["match_status"] == "REVIEW"  # 100 <= optimal(100)


def test_duplicate_threshold_window(spark):
    """duplicate_threshold > gap ⇒ all claimants DUPLICATE (matcher.py:424-431)."""
    x = {
        0: {"name": "victor", "k": "g"},
        1: {"name": "victorX", "k": "g"},
    }
    y = {0: {"name": "victor", "k": "g"}}
    cfg = MatchConfig(
        rules=(ColumnRule("name", ("name",), scorer="levenshtein_ratio"),),
        duplicate_threshold=50.0,
    )
    assert_match_equal(spark, x, y, cfg)
    res = df_to_records(
        match_records(records_to_df(spark, x), records_to_df(spark, y), cfg)
    )
    assert res[0]["match_status"] == "DUPLICATE"
    assert res[1]["match_status"] == "DUPLICATE"


def test_cutoff_gating(spark):
    """cutoff=True keeps scores >= threshold only; cutoff=False keeps > 0
    (matcher.py:86-89)."""
    x = {0: {"name": "abcdef", "z": "q"}}
    y = {0: {"name": "abcdxx", "z": "q"}, 1: {"name": "zzzzzz", "z": "q"}}
    for cutoff, thr in [(True, 60.0), (False, 60.0), (True, 0.0)]:
        cfg = MatchConfig(
            rules=(
                ColumnRule("name", ("name",), scorer="levenshtein_ratio",
                           threshold=thr, cutoff=cutoff),
            ),
            required_threshold=0.0,
        )
        assert_match_equal(spark, x, y, cfg)


def test_uniqueness_weighting(spark):
    """Low-uniqueness columns carry less weight (records.py:49-103):
    8 rows, col a uniqueness 7/8, col b 2/8 (reference tests/test_records.py
    expected ratios)."""
    x = {
        i: {"a": v_a, "b": v_b, "g": "g"}
        for i, (v_a, v_b) in enumerate(
            [("1", "1"), ("2", "2"), ("3", "2"), ("4", "1"),
             ("5", "2"), ("6", "2"), ("7", "2"), ("4", "1")]
        )
    }
    y = {0: {"a": "1", "b": "2", "g": "g"}}
    cfg = MatchConfig(
        rules=(ColumnRule("a", ("a",)), ColumnRule("b", ("b",))),
        required_threshold=0.0,
    )
    assert_match_equal(spark, x, y, cfg)
    # x0 matches a (weight 7/9) but not b; pair score = 100 * 7/9
    from record_matcher_spark.operators.scoring import score_pairs as sp

    pairs = {
        (r["x_id"], r["y_id"]): r["row_score"]
        for r in sp(
            records_to_df(spark, x), records_to_df(spark, y), cfg
        ).collect()
    }
    assert math.isclose(pairs[(0, 0)], 100.0 * (7 / 8) / (7 / 8 + 2 / 8), abs_tol=TOL)


# --------------------------------------------------------------------------
# seeded randomized differential sweep
# --------------------------------------------------------------------------

VALUE_POOL = ["", "aa", "ab", "abc", "a b", "a b c", "xyz", "xy z", None, "zz top"]
GROUP_POOL = ["g1", "g2", ""]


def _random_records(rng, n, columns):
    return {
        i: {c: rng.choice(VALUE_POOL) for c in columns} for i in range(n)
    }


@pytest.mark.parametrize("seed", range(6))
def test_randomized_differential(spark, seed):
    rng = random.Random(1000 + seed)
    x_cols = ["c1", "c2", "c3"]
    y_cols = ["d1", "d2", "d3"]
    x = _random_records(rng, 12, x_cols)
    y = _random_records(rng, 10, y_cols)
    for r in x.values():
        r["grp"] = rng.choice(GROUP_POOL)
    for r in y.values():
        r["grp"] = rng.choice(GROUP_POOL)

    scorer_names = ["exact_match", "levenshtein_ratio", "token_set_jaccard",
                    "jaro_winkler"]
    rules = tuple(
        ColumnRule(
            xc,
            tuple(rng.sample(y_cols, rng.randint(1, 2))),
            scorer=rng.choice(scorer_names),
            threshold=rng.choice([0.0, 50.0, 75.0, 100.0]),
            cutoff=rng.choice([True, False]),
        )
        for xc in x_cols
    )
    cfg = MatchConfig(
        rules=rules,
        columns_to_group={"grp": "grp"} if rng.random() < 0.5 else {},
        columns_to_get={"d1": "pulled_d1"} if rng.random() < 0.7 else {},
        required_threshold=rng.choice([0.0, 50.0, 75.0]),
        duplicate_threshold=rng.choice([0.0, 10.0, 200.0]),
    )
    assert_match_equal(spark, x, y, cfg)


def test_jw_pregate_is_exact_on_length_skew(spark):
    """The jaro_winkler length-ratio pre-gate (armed by cutoff=True) must
    leave scored pairs IDENTICAL to the ungated path and to the Python
    oracle on data engineered so most pairs are provably sub-threshold
    (one short x against long ys) plus pairs straddling the bound."""
    x = {
        1: {"name": "ab", "grp": "g"},               # ratio tiny vs long ys
        2: {"name": "martha stewart xyz", "grp": "g"},
        3: {"name": "m" * 40, "grp": "g"},
        4: {"name": "", "grp": "g"},
    }
    y = {
        1: {"name": "ab" + "q" * 30, "grp": "g"},    # gated (ratio 2/32)
        2: {"name": "martha stewart xyw", "grp": "g"},  # near-dup, computed
        3: {"name": "m" * 39 + "x", "grp": "g"},     # ratio 1, computed
        4: {"name": "", "grp": "g"},                 # blank == blank
        5: {"name": "zz", "grp": "g"},
    }
    cfg = MatchConfig(
        rules=(
            ColumnRule("name", ("name",), scorer="jaro_winkler",
                       threshold=90.0, cutoff=True),
        ),
        columns_to_group={"grp": "grp"},
        required_threshold=50.0,
    )
    assert_match_equal(spark, x, y, cfg)
    x_df, y_df = records_to_df(spark, x), records_to_df(spark, y)
    gated = {
        (r["x_id"], r["y_id"]): r["row_score"]
        for r in score_pairs(x_df, y_df, cfg).collect()
    }
    ungated = {
        (r["x_id"], r["y_id"]): r["row_score"]
        for r in score_pairs(
            x_df, y_df, cfg, keep_column_scores=True
        ).collect()
    }
    assert gated == ungated


def test_status_coverage_query_hits_all_five_statuses(spark):
    """The driver's match_statuses dataset must produce every reference
    status (MATCHED / REVIEW / AMBIGUOUS / UNMATCHED / DUPLICATE) and
    exercise the pulled column, at the driver's correctness scale."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["match_statuses"](
        spark, "/root/testdata/sf0.01"
    ).cache()
    statuses = {r["match_status"] for r in df.select("match_status").distinct().collect()}
    assert statuses == {"MATCHED", "REVIEW", "AMBIGUOUS", "UNMATCHED", "DUPLICATE"}
    pulled = df.where("y_name IS NOT NULL").count()
    cleared = df.where(
        "match_status IN ('UNMATCHED', 'AMBIGUOUS') AND y_name IS NOT NULL"
    ).count()
    assert pulled > 0 and cleared == 0
    df.unpersist()
