"""Candidate recall under HEAVY case noise — pins the round-4 review
finding that a case-sensitive MinHash family silently loses recall.

Measured at 2000 entities with per-word case flips at p=0.3 on variant
conversations: case-sensitive minhash-only recall collapses to ~0.16 vs
~0.62 case-folded, and the full default keyset loses ~8pp (0.84 vs
0.92). The default family now consumes the rollup's case-folded
``tok_hashes_lower`` (operators/blocking.DEFAULT_TRANSCRIPT_KEYS); this
test reproduces the corpus at test scale and pins both the full-keyset
recall and the case-folded-beats-case-sensitive ordering so the
normalization can't silently regress.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from record_matcher_spark.datagen import generate_transcripts
from record_matcher_spark.operators.blocking import (
    DEFAULT_TRANSCRIPT_KEYS,
    candidate_pairs,
    minhash_band_keys,
)
from record_matcher_spark.operators.rollup import rollup_conversations

CASE_P = 0.3


def _case_noised_corpus(spark, n_entities=400, seed=7):
    t, truth = generate_transcripts(spark, n_entities, seed=seed)

    def flip(batches):
        for pdf in batches:
            rng = np.random.default_rng(123)

            def f(text, cid):
                if cid.endswith("v0"):
                    return text
                return " ".join(
                    (w.upper() if rng.random() < 0.5 else w.capitalize())
                    if rng.random() < CASE_P else w
                    for w in text.split(" ")
                )

            pdf["text"] = [
                f(tx, cid) for tx, cid in zip(pdf["text"], pdf["conv_id"])
            ]
            yield pdf

    t2 = t.mapInPandas(flip, schema=t.schema)
    conv = rollup_conversations(t2).drop("turns").cache()
    conv.count()
    tp = (
        truth.alias("a")
        .join(truth.alias("b"), "entity_id")
        .where(F.col("a.conv_id") < F.col("b.conv_id"))
        .select(
            F.col("a.conv_id").alias("u"), F.col("b.conv_id").alias("v")
        )
        .cache()
    )
    return conv, tp, tp.count()


def _recall(conv, tp, n_truth, keys):
    persisted = []
    cand = candidate_pairs(
        conv, conv, keys, x_id="conv_id", y_id="conv_id", persisted=persisted
    )
    cu = cand.select(
        F.least("x_id", "y_id").alias("u"),
        F.greatest("x_id", "y_id").alias("v"),
    ).distinct()
    recall = tp.join(cu, ["u", "v"], "left_semi").count() / n_truth
    for d in persisted:
        d.unpersist()
    return recall


def test_default_keys_recall_under_heavy_case_noise(spark):
    conv, tp, n_truth = _case_noised_corpus(spark)
    try:
        r_default = _recall(conv, tp, n_truth, DEFAULT_TRANSCRIPT_KEYS)
        # the case-sensitive family that shipped in round 4 measured
        # ~0.84 here; the case-folded default must hold the higher bar
        assert r_default >= 0.88, r_default

        cs = (minhash_band_keys(hashes_column="tok_hashes"),)
        lc = (minhash_band_keys(),)
        r_cs = _recall(conv, tp, n_truth, cs)
        r_lc = _recall(conv, tp, n_truth, lc)
        # the ordering that motivated the fix: case-folded minhash alone
        # recovers far more case-noised pairs than case-sensitive alone
        assert r_lc > r_cs + 0.2, (r_lc, r_cs)
    finally:
        conv.unpersist()
        tp.unpersist()
