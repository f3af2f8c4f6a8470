"""Scale/skew smoke (SURVEY §5.3): one hot block ≫ others.

The blocking design handles skew by CAPPING block sizes per key family
(operators/blocking.py:_cap_blocks) — an uncapped hot block of B rows
costs B² candidate pairs and serializes one join task at any core count.
These tests pin the contract with exact counts:

- an over-cap block contributes ZERO pairs through that family,
- every block that survives capping is <= the cap on both sides, so the
  per-key join fan-out (the max task input of the candidate join) is
  bounded by cap² regardless of corpus skew,
- under-cap blocks are untouched (no recall loss below the cap).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from record_matcher_spark.operators.blocking import (
    BlockingKey,
    _cap_blocks,
    _tagged_keys,
    candidate_pairs,
)

N_HOT = 400        # one pathological block (~87% of rows)
N_COLD_KEYS = 30   # healthy small blocks
COLD_SZ = 4
CAP = 50


def _skewed_df(spark):
    rows = [(f"h{i:04d}", "HOT") for i in range(N_HOT)]
    for k in range(N_COLD_KEYS):
        rows += [(f"c{k:02d}_{j}", f"cold{k:02d}") for j in range(COLD_SZ)]
    return spark.createDataFrame(rows, "conv_id string, k string")


def _key(cap):
    return BlockingKey("k", lambda df: F.col("k"), max_block_size=cap)


def test_hot_block_dropped_cold_blocks_kept(spark):
    df = _skewed_df(spark)
    persisted = []
    pairs = candidate_pairs(
        df, df, [_key(CAP)], persisted=persisted
    ).where("x_id < y_id")
    # capped: only the cold blocks pair up — C(4,2)=6 unordered pairs each
    assert pairs.count() == N_COLD_KEYS * (COLD_SZ * (COLD_SZ - 1) // 2)

    # control: uncapped includes the hot block's quadratic blow-up
    pairs_uncapped = candidate_pairs(
        df, df, [_key(None)], persisted=persisted
    ).where("x_id < y_id")
    assert pairs_uncapped.count() == (
        N_COLD_KEYS * (COLD_SZ * (COLD_SZ - 1) // 2)
        + N_HOT * (N_HOT - 1) // 2
    )
    for d in persisted:
        d.unpersist()


def test_cap_bounds_max_block_entering_join(spark):
    """Max per-key multiplicity AFTER capping <= cap: the candidate join's
    largest task input is bounded by cap² pairs however skewed the corpus.
    """
    df = _skewed_df(spark)
    keys = [_key(CAP)]
    capped = _cap_blocks(_tagged_keys(df, "conv_id", keys), keys)
    max_block = (
        capped.groupBy("_kk").count().agg(F.max("count").alias("m")).first()["m"]
    )
    assert max_block <= CAP
    # and the hot key is gone entirely, not truncated (drop semantics —
    # truncation would bias which records can ever match)
    hot_left = (
        _skewed_df(spark)
        .where(F.col("k") == "HOT")
        .select("conv_id")
        .join(capped, capped["_id"] == F.col("conv_id"))
        .count()
    )
    assert hot_left == 0


def test_xy_mode_cap_applies_per_side(spark):
    """x-vs-y mode: a block over cap on ONE side kills the key for both
    (either side's fan-out alone is enough to serialize a task)."""
    x = _skewed_df(spark)  # HOT over cap on x
    y = (
        spark.createDataFrame(
            [(f"y{i}", "HOT") for i in range(3)]
            + [(f"y{100 + k}", f"cold{k:02d}") for k in range(N_COLD_KEYS)],
            "conv_id string, k string",
        )
    )
    persisted = []
    pairs = candidate_pairs(
        x, y, [_key(CAP)], x_id="conv_id", y_id="conv_id", persisted=persisted
    )
    # HOT contributes nothing (x side over cap); each cold key pairs
    # COLD_SZ x-rows with exactly 1 y-row
    assert pairs.count() == N_COLD_KEYS * COLD_SZ
    assert pairs.where(F.col("x_id").startswith("h")).count() == 0
    for d in persisted:
        d.unpersist()
