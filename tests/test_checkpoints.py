"""StageStore: committed-stage resume, lineage invalidation, metrics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from record_matcher_spark.datagen import generate_transcripts
from record_matcher_spark.pipeline import match_transcripts, pairwise_f1
from record_matcher_spark.sources import StageStore


def test_run_stage_skips_committed(spark, tmp_path):
    store = StageStore(spark, str(tmp_path), run_id="r1")
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).select(F.col("id"))

    a = store.run_stage("s1", build, config={"k": 1})
    assert a.count() == 10 and calls == [1]

    # same config in a fresh store (a restarted driver): skipped
    store2 = StageStore(spark, str(tmp_path), run_id="r1")
    b = store2.run_stage("s1", build, config={"k": 1})
    assert b.count() == 10 and calls == [1]

    m = store2.manifest("s1")
    assert m["row_count"] == 10
    assert sum(m["partitions"].values()) == 10
    assert m["backend"] == "parquet"


def test_lineage_invalidation(spark, tmp_path):
    store = StageStore(spark, str(tmp_path), run_id="r2")
    calls = []
    store.run_stage("up", lambda: spark.range(3), config={"v": 1})
    store.run_stage(
        "down",
        lambda: calls.append(1) or spark.range(5),
        config={"w": 1},
    )
    assert calls == [1]

    # changed UPSTREAM config => downstream rebuilt even though its own
    # config is identical
    store3 = StageStore(spark, str(tmp_path), run_id="r2")
    store3.run_stage("up", lambda: spark.range(4), config={"v": 2})
    store3.run_stage(
        "down",
        lambda: calls.append(1) or spark.range(5),
        config={"w": 1},
    )
    assert calls == [1, 1]


def test_metrics_roundtrip(spark, tmp_path):
    store = StageStore(spark, str(tmp_path), run_id="r3")
    store.log_metrics("pairs", {"rows_in": 100, "rows_out": 40})
    store.log_metrics("pairs", {"rows_in": 100, "rows_out": 41})
    ms = store.metrics("pairs")
    assert [m["rows_out"] for m in ms] == [40, 41]


def test_pipeline_resume_identical_clusters(spark, tmp_path):
    t, truth = generate_transcripts(spark, 60, seed=7, num_partitions=4)
    t = t.cache()
    res1 = match_transcripts(
        t, edge_mode="threshold",
        store=StageStore(spark, str(tmp_path), run_id="er"),
    )
    first = sorted(map(tuple, res1.clusters.collect()))

    # resume from a fresh store: all four stages committed => no rebuild,
    # identical clusters
    store2 = StageStore(spark, str(tmp_path), run_id="er")
    res2 = match_transcripts(t, edge_mode="threshold", store=store2)
    second = sorted(map(tuple, res2.clusters.collect()))
    assert first == second
    for stage in ("conversations", "candidates", "pairs", "clusters"):
        assert store2.manifest(stage) is not None

    f1 = pairwise_f1(res2.clusters, truth, res2.candidates)
    assert f1["f1"] >= 0.99


def test_truncated_manifest_rebuilds(spark, tmp_path):
    """A manifest cut short (a crash mid-write on a store that did not
    write it atomically) counts as no manifest: the stage is rebuilt
    instead of failing to parse on resume."""
    store = StageStore(spark, str(tmp_path), run_id="r4")
    calls = []

    def build():
        calls.append(1)
        return spark.range(4)

    store.run_stage("s", build, config={"k": 1})
    path = store._manifest_path("s")
    with open(path) as f:
        text = f.read()
    with open(path, "w") as f:
        f.write(text[: len(text) // 2])
    assert store.manifest("s") is None

    store2 = StageStore(spark, str(tmp_path), run_id="r4")
    assert store2.run_stage("s", build, config={"k": 1}).count() == 4
    assert calls == [1, 1]
    assert store2.manifest("s")["row_count"] == 4
    assert sorted(os.listdir(store2._dir("s"))) == ["_MANIFEST.json", "data"]
