"""Structured Streaming incremental ER: the log-structured state store
(streaming.TranscriptStreamMatcher) — stream-drain equivalence to the
batch pipeline, replay idempotency, cross-batch merges, compaction."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from record_matcher_spark.pipeline import match_transcripts
from record_matcher_spark.streaming import TranscriptStreamMatcher

from tests.test_incremental import _BRIDGE_CFG, _closed_corpus, _partition, _turn_rows

_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_stream_drain_equals_batch_pipeline(spark, tmp_path):
    """Stream 3 parquet files into one source, one file per ``start()``
    run on the same checkpoint (so one micro-batch per file), and check
    the final clusters equal one full-batch run, as a partition of
    conv_ids — on the wide-margin corpus the fold order cannot matter."""
    t = _closed_corpus(spark, n=15)
    v = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long")
    src = os.path.join(str(tmp_path), "incoming")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    m = TranscriptStreamMatcher(spark, os.path.join(str(tmp_path), "state"))
    for i in range(3):
        t.where(v % 3 == i).coalesce(1).write.mode("append").parquet(src)
        m.start(src, ckpt).awaitTermination(300)
        assert m.state().batch_id == i

    st = m.state()
    assert st is not None and st.n_batches == 3 and st.generation == 0
    full = match_transcripts(t, edge_mode="threshold")
    assert _partition(m.clusters()) == _partition(full.clusters)
    assert m.conversations().count() == t.select("conv_id").distinct().count()
    full.unpersist()


def test_replay_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers a failed batch with the same batch_id;
    re-processing must be a no-op, and an empty batch commits nothing."""
    t = _closed_corpus(spark, n=8)
    m = TranscriptStreamMatcher(spark, os.path.join(str(tmp_path), "state"))
    m.process_batch(t, 0)
    st0 = m.state()
    before = _partition(m.clusters())

    m.process_batch(t, 0)  # replay: same batch_id
    assert m.state() == st0
    assert _partition(m.clusters()) == before

    m.process_batch(t.limit(0), 1)  # empty micro-batch
    assert m.state() == st0


def test_empty_base_has_committed_segment_columns(spark, tmp_path):
    """The seed fold's base (an empty store's ``conversations()``) carries
    every column a committed segment does — the tokenize-once
    ``tok_hashes``/``tok_hashes_lower`` included, which match_increment
    requires on its base."""
    m = TranscriptStreamMatcher(spark, os.path.join(str(tmp_path), "state"))
    empty = m.conversations().dtypes
    m.process_batch(_closed_corpus(spark, n=3), 0)
    assert empty == m.conversations().dtypes


def test_cross_batch_merge_then_compact(spark, tmp_path):
    """Batch 1 bridges two batch-0 clusters: the merge map relabels convB
    to convA on read; compaction folds the map into a single next-
    generation snapshot with identical clusters."""
    base_t = spark.createDataFrame(
        _turn_rows("convA", ["alpha aleph"]) + _turn_rows("convB", ["beta bet"]),
        _COLS,
    )
    bridge_t = spark.createDataFrame(
        _turn_rows("convN", ["alpha aleph beta bet"]), _COLS
    )
    m = TranscriptStreamMatcher(
        spark, os.path.join(str(tmp_path), "state"), cfg=_BRIDGE_CFG
    )
    m.process_batch(base_t, 0)
    assert _partition(m.clusters()) == frozenset(
        {frozenset({"convA"}), frozenset({"convB"})}
    )
    m.process_batch(bridge_t, 1)
    expected = {
        ("convA", "convA"), ("convB", "convA"), ("convN", "convA")
    }
    assert {tuple(r) for r in m.clusters().collect()} == expected

    st = m.compact()
    assert st.generation == 1 and st.n_batches == 1
    assert {tuple(r) for r in m.clusters().collect()} == expected
    assert m._merge_map() == {}  # chain folded into the snapshot

    # the log keeps accepting batches after compaction
    late_t = spark.createDataFrame(
        _turn_rows("convZ", ["omega omicron"]), _COLS
    )
    m.process_batch(late_t, 2)
    assert ("convZ", "convZ") in {tuple(r) for r in m.clusters().collect()}


def test_partial_conversation_rejected(spark, tmp_path):
    """A conv_id re-appearing in a later batch means its turns straddled a
    micro-batch boundary — folding would commit a second conflicting
    rollup, so the sink refuses loudly (its disjointness check)."""
    import pytest

    from record_matcher_spark.errors import InvalidConfigError

    t = _closed_corpus(spark, n=6)
    m = TranscriptStreamMatcher(spark, os.path.join(str(tmp_path), "state"))
    m.process_batch(t, 0)
    straddler = t.limit(2)  # turns of an already-ingested conversation
    with pytest.raises(InvalidConfigError, match="whole within one"):
        m.process_batch(straddler, 1)
    st = m.state()
    assert st is not None and st.n_batches == 1  # nothing was committed


def test_folds_reuse_generated_code(spark, tmp_path):
    """Spark's generated classes survive from one fold to the next: the
    session's codegen cache holds a fold's working set, so warm folds
    compile few new classes (with Spark's default 100-entry cache every
    fold recompiled ~150)."""
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    t = _closed_corpus(spark, n=30)
    k = F.regexp_extract("conv_id", r"c(\d+)_v", 1).cast("long")
    m = TranscriptStreamMatcher(spark, os.path.join(str(tmp_path), "state"))
    per_fold = []
    for i in range(4):
        before = compiled.getCount()
        m.process_batch(t.where(k % 4 == i), i)
        per_fold.append(compiled.getCount() - before)
    assert m.state().n_batches == 4
    assert max(per_fold[2:]) <= 50, per_fold
    t.unpersist()


def test_compact_empty_store_refused(tmp_path):
    """Compacting a store with no committed batch raises instead of
    writing an empty snapshot generation."""
    import pytest

    from record_matcher_spark.errors import InvalidConfigError

    m = TranscriptStreamMatcher(None, os.path.join(str(tmp_path), "state"))
    with pytest.raises(InvalidConfigError, match="nothing to compact"):
        m.compact()
    assert m.state() is None


def test_new_checkpoint_refused_then_rebound(spark, tmp_path):
    """Binding a fresh checkpoint to existing state would restart batch
    numbering at 0 and the replay guard would drop everything — start()
    refuses; rebind_checkpoint=True continues numbering instead."""
    import pytest

    from record_matcher_spark.errors import InvalidConfigError

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    src1 = os.path.join(str(tmp_path), "in1")
    src2 = os.path.join(str(tmp_path), "in2")
    spark.createDataFrame(
        _turn_rows("convA", ["alpha aleph"]), schema
    ).coalesce(1).write.parquet(src1)
    spark.createDataFrame(
        _turn_rows("convZ", ["zeta zayin"]), schema
    ).coalesce(1).write.parquet(src2)

    m = TranscriptStreamMatcher(
        spark, os.path.join(str(tmp_path), "state"), cfg=_BRIDGE_CFG
    )
    q = m.start(src1, os.path.join(str(tmp_path), "ckpt1"))
    q.awaitTermination(120)
    st1 = m.state()
    assert st1 is not None and st1.batch_id == 0

    with pytest.raises(InvalidConfigError, match="bound to checkpoint"):
        m.start(src2, os.path.join(str(tmp_path), "ckpt2"))

    q2 = m.start(
        src2, os.path.join(str(tmp_path), "ckpt2"), rebind_checkpoint=True
    )
    q2.awaitTermination(120)
    st2 = m.state()
    assert st2 is not None and st2.batch_id == 1  # numbering continued
    got = {r["conv_id"] for r in m.clusters().collect()}
    assert got == {"convA", "convZ"}


def test_merge_chain_composition(spark, tmp_path):
    """Merges across successive batches compose transitively: batch 1
    merges C into B, batch 2 merges B into A — reading convC's label must
    follow the chain C→B→A to the final survivor."""
    t0 = spark.createDataFrame(
        _turn_rows("convA", ["alpha aleph"])
        + _turn_rows("convB", ["beta bet"])
        + _turn_rows("convC", ["gamma gimel"]),
        _COLS,
    )
    # J(X,B)=J(X,C)=2/4=50, J(X,A)=0  => merges convC -> convB
    bridge_bc = spark.createDataFrame(
        _turn_rows("convX", ["beta bet gamma gimel"]), _COLS
    )
    # J(Y,A)=J(Y,B)=50, J(Y,X)=2/6<50 => merges convB -> convA
    bridge_ab = spark.createDataFrame(
        _turn_rows("convY", ["alpha aleph beta bet"]), _COLS
    )
    m = TranscriptStreamMatcher(
        spark, os.path.join(str(tmp_path), "state"), cfg=_BRIDGE_CFG
    )
    m.process_batch(t0, 0)
    m.process_batch(bridge_bc, 1)
    m.process_batch(bridge_ab, 2)
    got = {tuple(r) for r in m.clusters().collect()}
    assert got == {
        ("convA", "convA"), ("convB", "convA"), ("convC", "convA"),
        ("convX", "convA"), ("convY", "convA"),
    }
