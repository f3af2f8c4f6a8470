"""Incremental matching tests: batch-vs-incremental cluster equivalence on
a wide-margin corpus, base-cluster merges discovered by new evidence, the
apply_merges touch-up, and the foreachBatch streaming wrapper."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.errors import InvalidConfigError
from record_matcher_spark.incremental import apply_merges, match_increment
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.pipeline import match_transcripts


# Closed-form corpus (same construction as __spark_entry__'s driver
# oracle): entity k gets 1 + (k % 3) variant conversations over
# entity-unique tokens, so within-entity pairs score far above threshold
# and cross-entity pairs far below — wide margins make incremental and
# full-batch clustering provably identical.
_CLOSED_SQL = """
WITH v AS (
  SELECT id AS k, explode(sequence(0, CAST(id % 3 AS INT))) AS v
  FROM range(1, {n})
), t AS (
  SELECT k, v, explode(sequence(0, 3)) AS turn_idx FROM v
)
SELECT concat('c', k, '_v', v) AS conv_id,
       CAST(turn_idx AS INT) AS turn_idx,
       CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       CASE turn_idx
         WHEN 0 THEN concat('e', k, 'a e', k, 'b e', k, 'c e', k, 'd')
         WHEN 1 THEN concat('e', k, 'e e', k, 'f e', k, 'g')
         WHEN 2 THEN concat('e', k, 'h v', k, 'x', v)
         ELSE concat('e', k, 'i e', k, 'j')
       END AS text,
       '' AS tool,
       timestamp_seconds(k * 1000 + v * 10 + turn_idx) AS ts
FROM t
"""


def _closed_corpus(spark, n=40):
    return spark.sql(_CLOSED_SQL.format(n=n)).cache()


def _partition(df):
    """cluster assignment -> frozenset of frozensets (label-independent)."""
    groups = {}
    for r in df.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return frozenset(frozenset(g) for g in groups.values())


def test_increment_equals_batch_on_wide_margin_corpus(spark):
    """base = {v0, v1} convs + increment of the rest == one full-batch run,
    as a partition of conv_ids. The increment exercises attach-to-existing
    (v2 joining its entity's base cluster) AND new-cluster formation
    (entities k % 7 == 0 are withheld from the base entirely)."""
    t = _closed_corpus(spark)
    k = F.regexp_extract("conv_id", r"c(\d+)_v", 1).cast("long")
    v = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long")
    in_base = (v < 2) & (k % 7 != 0)
    base_t = t.where(in_base)
    new_t = t.where(~in_base)
    assert new_t.count() > 0 and base_t.count() > 0

    full = match_transcripts(t, edge_mode="threshold")
    full_part = _partition(full.clusters)

    base = match_transcripts(base_t, edge_mode="threshold")
    inc = match_increment(
        new_t, base.conversations, base.clusters, edge_mode="threshold"
    )
    merged_base = apply_merges(base.clusters, inc.merges)
    inc_all = merged_base.unionByName(inc.assignments)
    inc_part = _partition(inc_all)

    assert inc_part == full_part
    # wide margins + v0-in-base => labels agree exactly, not just partitions
    assert inc.merges.count() == 0
    full_rows = {r["conv_id"]: r["cluster_id"] for r in full.clusters.collect()}
    inc_rows = {r["conv_id"]: r["cluster_id"] for r in inc_all.collect()}
    assert inc_rows == full_rows

    full.unpersist(); base.unpersist(); inc.unpersist()


_BRIDGE_CFG = MatchConfig(
    rules=(
        ColumnRule("full_text", ("full_text",), scorer="token_set_jaccard",
                   threshold=40.0, cutoff=False),
    ),
    required_threshold=50.0,
    duplicate_threshold=0.0,
    x_id="conv_id",
    y_id="conv_id",
)


def _turn_rows(conv_id, texts):
    t0 = datetime.datetime(2026, 1, 1)
    return [
        (conv_id, i, "user" if i % 2 == 0 else "assistant", txt, "",
         t0 + datetime.timedelta(seconds=i))
        for i, txt in enumerate(texts)
    ]


def test_increment_merges_base_clusters(spark):
    """A batch conv matching two previously-separate base clusters merges
    them: survivor = smallest base label, remap reported in `merges` and
    applied by apply_merges. The bridge takes the base label even when
    its own id sorts before every base label ("conv0")."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # token-set Jaccard: J(N,A)=J(N,B)=2/4=50 >= 50, J(A,B)=0
    base_t = spark.createDataFrame(
        _turn_rows("convA", ["alpha aleph"]) + _turn_rows("convB", ["beta bet"]),
        cols,
    )
    base = match_transcripts(base_t, cfg=_BRIDGE_CFG, edge_mode="threshold")
    assert _partition(base.clusters) == frozenset(
        {frozenset({"convA"}), frozenset({"convB"})}
    )

    for bridge in ("convN", "conv0"):
        new_t = spark.createDataFrame(
            _turn_rows(bridge, ["alpha aleph beta bet"]), cols
        )
        inc = match_increment(
            new_t, base.conversations, base.clusters,
            cfg=_BRIDGE_CFG, edge_mode="threshold",
        )
        assert {tuple(r) for r in inc.merges.collect()} == {
            ("convB", "convA")
        }
        assert {tuple(r) for r in inc.assignments.collect()} == {
            (bridge, "convA")
        }
        merged = apply_merges(base.clusters, inc.merges)
        assert {tuple(r) for r in merged.collect()} == {
            ("convA", "convA"), ("convB", "convA")
        }
        inc.unpersist()
    base.unpersist()


def test_increment_via_foreach_batch_stream(spark, tmp_path):
    """The increment is a pure batch operator, so it drops into
    Structured Streaming's foreachBatch unchanged: stream the new batch
    from a file source (availableNow) and fold it into the base."""
    t = _closed_corpus(spark, n=15)
    v = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long")
    base_t, new_t = t.where(v == 0), t.where(v > 0)
    base = match_transcripts(base_t, edge_mode="threshold")

    src = os.path.join(str(tmp_path), "incoming")
    new_t.write.parquet(src)

    collected = []

    def sink(batch_df, batch_id):
        inc = match_increment(batch_df, base.conversations, base.clusters)
        collected.extend(tuple(r) for r in inc.assignments.collect())
        inc.unpersist()

    q = (
        spark.readStream.schema(new_t.schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    expected = {
        (r["conv_id"], f"c{r['k']}_v0")
        for r in new_t.select(
            "conv_id",
            F.regexp_extract("conv_id", r"c(\d+)_v", 1).alias("k"),
        ).distinct().collect()
    }
    assert set(collected) == expected
    base.unpersist()


def test_increment_base_column_guard(spark):
    """A base table missing a rollup column is malformed and raises:
    ts_min, and the tokenize-once tok_hashes that blocking and scoring
    read (there is no re-tokenizing fallback). A batch that re-delivers a
    base conv_id breaks the ingest contract and raises too, on a direct
    call as well as through the stream sink."""
    t = _closed_corpus(spark, n=8)
    in_base = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long") < 1
    base_conv = rollup_conversations(t.where(in_base)).drop("turns")
    base_clusters = base_conv.select(
        "conv_id", F.col("conv_id").alias("cluster_id")
    )
    new_t = t.where(~in_base)

    for col in ("ts_min", "tok_hashes"):
        with pytest.raises(ValueError, match=col):
            match_increment(new_t, base_conv.drop(col), base_clusters)
    redelivered = t.where(F.col("conv_id") == "c1_v0").unionByName(new_t)
    with pytest.raises(InvalidConfigError, match="whole within one") as e:
        match_increment(redelivered, base_conv, base_clusters)
    assert "c1_v0" in str(e.value)
    t.unpersist()


def test_unknown_edge_mode_refused():
    """Both transcript paths refuse an edge_mode they do not know before
    touching their inputs (no Spark work runs)."""
    with pytest.raises(ValueError, match="unknown edge_mode 'bogus'"):
        match_transcripts(None, edge_mode="bogus")
    with pytest.raises(ValueError, match="unknown edge_mode 'bogus'"):
        match_increment(None, None, None, edge_mode="bogus")
