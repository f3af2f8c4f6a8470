"""Tokenize once: the rollup's tok_hashes columns must be bit-equal (as
sets) to the tokenizations they replace, MinHash blocking and prepped
scoring must read them (and refuse inputs without them), the
prepped-column scoring override must score identically, and the CC
canonicalization must not change components.

Reference anchor: the reference tokenizes per scorer call
(/root/reference/record_matcher/*); this repo moves that work to one
aggregation per corpus — these tests pin that the motion is semantics-free.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.datagen import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from record_matcher_spark.errors import InvalidConfigError
from record_matcher_spark.functions.scorers import _token_hashes_prep
from record_matcher_spark.operators import blocking
from record_matcher_spark.operators.blocking import minhash_band_keys
from record_matcher_spark.operators.cluster import connected_components
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.operators.scoring import score_candidate_pairs


def assert_df_equal(a, b):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert a.columns == b.columns
    assert ra == rb, (ra[:3], rb[:3])


def _conv(spark, n=60, seed=11):
    t, _ = generate_transcripts(spark, n, seed=seed, num_partitions=4)
    return rollup_conversations(t).drop("turns").cache()


def _one_turn_convs(spark, texts):
    """Rolled-up conversations of one user turn each: {conv_id: text}."""
    ts = dt.datetime(2024, 1, 1)
    rows = [(c, 0, "user", text, "", ts) for c, text in texts.items()]
    t = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    return rollup_conversations(t).drop("turns")


def test_tok_hashes_match_full_text_tokenization(spark):
    """tok_hashes (case-sensitive) == scorer prep of full_text — same
    arrays (the rollup uses the prep expression itself), and as SETS they
    equal hashing the distinct raw tokens (hash-before-distinct
    equivalence)."""
    conv = _conv(spark)
    chk = conv.select(
        "conv_id",
        F.array_sort("tok_hashes").alias("got"),
        F.array_sort(_token_hashes_prep(F.col("full_text"))).alias("want"),
        F.array_sort(
            F.transform(
                F.array_distinct(
                    F.filter(
                        F.split(F.trim(F.col("full_text")), r"\s+"),
                        lambda t: t != F.lit(""),
                    )
                ),
                lambda t: F.xxhash64(t),
            )
        ).alias("want_raw"),
    )
    bad = chk.where(
        (F.col("got") != F.col("want")) | (F.col("got") != F.col("want_raw"))
    )
    assert bad.count() == 0, bad.limit(3).collect()


def test_minhash_lowercase_family_distinct_from_raw(spark, monkeypatch):
    """The case-folded family (tok_hashes_lower, the default) gives two
    conversations that differ only in case the same keys; the
    case-sensitive family (tok_hashes) gives them different keys —
    pinning that the two hashes_columns are different normalizations.
    Run at an 8x2 geometry: two wide bands."""
    monkeypatch.setattr(blocking, "MINHASH_HASHES", 8)
    monkeypatch.setattr(blocking, "MINHASH_BANDS", 2)
    df = _one_turn_convs(
        spark, {"a": "alpha beta gamma", "b": "Alpha beta gamma"}
    )
    lo = minhash_band_keys().keyed(df, "conv_id")
    raw = minhash_band_keys(hashes_column="tok_hashes").keyed(
        df, "conv_id"
    )
    lo_keys = {(r["_id"], r["_k"]) for r in lo.collect()}
    raw_keys = {(r["_id"], r["_k"]) for r in raw.collect()}
    lo_a = {k for i, k in lo_keys if i == "a"}
    lo_b = {k for i, k in lo_keys if i == "b"}
    raw_a = {k for i, k in raw_keys if i == "a"}
    raw_b = {k for i, k in raw_keys if i == "b"}
    assert lo_a == lo_b  # case-folded: identical signatures
    assert raw_a != raw_b  # raw: the capitalized token changes draws


def test_prepped_override_scores_identical(spark):
    """ColumnRule.prepped=tok_hashes scores bit-identically to the
    prep-expression path. (Both sides resolve exact_match through the
    registry's hash-prep — the hash-vs-string-equality differential is
    test_exact_hash_prep_vs_string_equality below.)"""
    conv = _conv(spark)
    plain = conv.drop("tok_hashes", "tok_hashes_lower")
    cand = (
        conv.alias("a")
        .join(conv.alias("b"), F.col("a.role_seq") == F.col("b.role_seq"))
        .select(
            F.col("a.conv_id").alias("x_id"), F.col("b.conv_id").alias("y_id")
        )
        .where(F.col("x_id") != F.col("y_id"))
        .distinct()
    )
    rules = lambda prepped: (
        ColumnRule("full_text", ("full_text",), scorer="token_set_jaccard",
                   threshold=40.0, cutoff=False, prepped=prepped),
        ColumnRule("role_seq", ("role_seq",), scorer="exact_match"),
        ColumnRule("tool_seq", ("tool_seq",), scorer="exact_match"),
    )
    mk = lambda prepped: MatchConfig(
        rules=rules(prepped), required_threshold=45.0,
        duplicate_threshold=0.0, x_id="conv_id", y_id="conv_id",
    )
    fast = score_candidate_pairs(conv, conv, cand, mk("tok_hashes"))
    slow = score_candidate_pairs(plain, plain, cand, mk(None))
    assert_df_equal(fast, slow)


def test_exact_hash_prep_vs_string_equality(spark):
    """The exact_match hash-prep path (xxhash64 compare) must score
    bit-identically to a TRUE string-equality scorer: a registry variant
    with no prep resolves through scorer.expr on the normalized strings,
    so this is a real differential over the prep change (round-4 review
    flagged that no test exercised hash-vs-string equality)."""
    from record_matcher_spark.functions.scorers import (
        SCORERS, _expr_exact, _py_exact, register_scorer,
    )

    name = "__test_exact_strings"
    register_scorer(name, _expr_exact, _py_exact, catalyst=True)
    try:
        conv = _conv(spark)
        cand = (
            conv.alias("a")
            .join(conv.alias("b"), F.col("a.n_turns") == F.col("b.n_turns"))
            .select(
                F.col("a.conv_id").alias("x_id"),
                F.col("b.conv_id").alias("y_id"),
            )
            .where(F.col("x_id") != F.col("y_id"))
            .limit(500)
        )
        mk = lambda scorer: MatchConfig(
            rules=(
                ColumnRule("role_seq", ("role_seq",), scorer=scorer),
                ColumnRule("tool_seq", ("tool_seq",), scorer=scorer),
                ColumnRule("first_user_text", ("first_user_text",),
                           scorer=scorer),
            ),
            required_threshold=45.0, duplicate_threshold=0.0,
            x_id="conv_id", y_id="conv_id",
        )
        hashed = score_candidate_pairs(conv, conv, cand, mk("exact_match"))
        strings = score_candidate_pairs(conv, conv, cand, mk(name))
        assert_df_equal(hashed, strings)
    finally:
        SCORERS.pop(name, None)


def test_minhash_hashes_column_type_validated(spark):
    """A present-but-wrongly-typed hashes_column is a hard error, not a
    silent recall loss (the column is matched by NAME)."""
    rows = [("a", "alpha beta", ["alpha", "beta"])]
    df = spark.createDataFrame(
        rows, ["id", "full_text", "tok_hashes_lower"]
    )  # array<string>, not array<long>
    key = minhash_band_keys()
    with pytest.raises(TypeError, match="array<bigint>"):
        key.keyed(df, "id")


def test_minhash_hashes_column_missing_raises(spark):
    """A frame without the family's hashes_column is refused: blocking
    never tokenizes text itself."""
    df = spark.createDataFrame([("a", "alpha beta")], ["id", "full_text"])
    with pytest.raises(ValueError, match="tok_hashes_lower"):
        minhash_band_keys().keyed(df, "id")


def test_prepped_column_absent_raises(spark):
    """A config naming a prepped column is refused on an x or y side that
    does not carry it: scoring has no re-tokenizing fallback."""
    conv = _conv(spark)
    plain = conv.drop("tok_hashes", "tok_hashes_lower")
    cand = conv.select(
        F.col("conv_id").alias("x_id"), F.col("conv_id").alias("y_id")
    )
    cfg = MatchConfig(
        rules=(
            ColumnRule("full_text", ("full_text",),
                       scorer="token_set_jaccard", threshold=40.0,
                       cutoff=False, prepped="tok_hashes"),
        ),
        required_threshold=45.0, duplicate_threshold=0.0,
        x_id="conv_id", y_id="conv_id",
    )
    with pytest.raises(InvalidConfigError, match="not in x schema"):
        score_candidate_pairs(plain, conv, cand, cfg)
    with pytest.raises(InvalidConfigError, match="not in y schema"):
        score_candidate_pairs(conv, plain, cand, cfg)


def test_cc_directed_vs_canonical_components_identical(spark):
    """CC over a directed edge list equals CC over any edge direction mix
    (canonicalization is internal); self-loops keep their nodes."""
    rows = [("a", "b"), ("b", "a"), ("b", "c"), ("x", "y"), ("z", "z"),
            ("m", "n"), ("n", "m"), ("n", "o"), ("o", "m")]
    e = spark.createDataFrame(rows, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, "src", "dst").collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "x": "x", "y": "x", "z": "z",
        "m": "m", "n": "m", "o": "m",
    }


def test_prepped_scoring_plan_has_no_tokenization(spark):
    """With ColumnRule.prepped engaged on both sides, the pair-scoring
    plan must NOT re-split any text: the only split in the whole DAG is
    the rollup's tokenize-once projection (pinned by plan string — a
    regression would re-tokenize per join side)."""
    from record_matcher_spark.pipeline import default_transcript_match_config

    conv = _conv(spark)
    cand = conv.select(F.col("conv_id").alias("x_id")).crossJoin(
        conv.select(F.col("conv_id").alias("y_id"))
    ).limit(100)
    cfg = default_transcript_match_config()
    out = score_candidate_pairs(conv, conv, cand, cfg)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # conv is cached, so its rollup-side split lives only in the
    # InMemoryRelation descriptor; the scoring operators above the scans
    # must not contain any split/lower tokenization
    above_cache = plan.split("InMemoryRelation")[0]
    assert "split(" not in above_cache, above_cache


def test_rollup_tokens_plan_exchange_free_on_clustered_input(spark):
    """The token-hash columns must not add a shuffle on a CACHED
    conv_id-clustered input (the bench/production layout): both
    aggregates read the cache's hash(conv_id) partitioning and the join
    reuses it — zero 'Exchange hashpartitioning' in the whole plan."""
    t, _ = generate_transcripts(spark, 40, seed=7, num_partitions=4)
    clustered = t.repartition(8, "conv_id").cache()
    clustered.count()
    try:
        plan = (
            rollup_conversations(clustered)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the cache descriptor's own REPARTITION_BY_NUM lines are not
        # executed exchanges; any shuffle ADDED by this plan would carry
        # the ENSURE_REQUIREMENTS marker
        added = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln
            and "ENSURE_REQUIREMENTS" in ln
        ]
        assert not added, plan
    finally:
        clustered.unpersist()
