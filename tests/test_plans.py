"""Physical-plan audits: the optimizations the 100 TB design relies on
must actually appear in the executed plan — filter pushdown and column
pruning at the parquet scan, hash (never cartesian) joins for blocked
scoring, and the single-shuffle session aggregation. Pinned as tests so a
refactor that silently de-optimizes a plan fails CI, not a cluster run."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("RM_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns_and_pushes_filters(spark):
    """language_id over a lang-filtered documents scan: the parquet scan
    must read ONLY (doc_id, text, lang) and receive the lang predicate."""
    from record_matcher_spark.operators.text import language_id

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    out = language_id(docs.where(F.col("lang") == "en"), "doc_id", "text")
    plan = _plan(out)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "PushedFilters" in scan and "EqualTo(lang,en)" in scan, scan
    read_schema = scan.split("ReadSchema:")[1]
    assert "text" in read_schema and "doc_id" in read_schema
    # untouched wide columns must NOT be read
    for col in docs.columns:
        if col not in ("doc_id", "text", "lang"):
            assert col not in read_schema, (col, read_schema)


def test_blocked_scoring_uses_hash_join(spark):
    """score_pairs with blocking keys: equi-join (broadcast or shuffled
    hash / sort-merge), never a cartesian product."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["match_fuzzy"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert any(j in plan for j in ("HashJoin", "SortMergeJoin")), plan


def test_session_stats_single_shuffle_no_window(spark):
    """session_stats = native session-window aggregation: exactly one hash
    exchange on the user key and no window-function operator."""
    from record_matcher_spark.operators.sessions import session_stats

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    plan = _plan(session_stats(ev))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Window" not in plan


def test_exact_dedup_is_one_aggregate_no_join(spark):
    """The dedup_exact driver row must stay a pure hash aggregate — no
    pair join path."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["dedup_exact"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan or (
        "SortAggregate" in plan
    ), plan


def test_rollup_reuses_conv_id_clustered_input(spark):
    """rollup over an input already hash-partitioned by conv_id (the
    Iceberg bucket layout of a production transcript corpus, and what
    bench.time_transcripts caches) must add NO Exchange: the aggregate's
    ClusteredDistribution(conv_id) is satisfied by the child partitioning,
    so the 10^12-row turn payload is never shuffled by the rollup."""
    from record_matcher_spark.datagen import generate_transcripts
    from record_matcher_spark.operators.rollup import rollup_conversations

    t, _ = generate_transcripts(spark, 50, seed=7, num_partitions=4)
    t = t.repartition(4, "conv_id")
    plan = _plan(rollup_conversations(t).drop("turns"))
    agg_part = plan.split("Exchange")[0]  # above the repartition itself
    assert "ObjectHashAggregate" in agg_part or "SortAggregate" in agg_part
    # exactly the one shuffle we introduced (the repartition), none added —
    # counted as 'Exchange hashpartitioning' so a legitimate future
    # BroadcastExchange/ReusedExchange can't mask or fail the check
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_ivf_training_agg_has_constant_state(spark):
    """k-means training statistics must be a plain partial-mergeable
    HashAggregate over fixed-point integer sums: no collect_list (whose
    per-key state is the entire inverted list — ~1/n_centroids of the
    corpus in ONE buffer) and no object-hash fallback. The plan must
    show a partial aggregate below the exchange (map-side combine)."""
    from pyspark.sql import functions as F

    from record_matcher_spark.operators.similarity import (
        _ivf_sum_agg,
        ivf_assign,
        ivf_seed_centroids,
    )

    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = ivf_seed_centroids(embs, "vec_id", "embedding", 8)
    asg = ivf_assign(embs, "vec_id", "embedding", cents, out_id="n_id")
    base = embs.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("_v")
    )
    plan = _plan(_ivf_sum_agg(asg.join(base, "n_id"), len(cents[0][1])))
    assert "collect_list" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_ivf_assignment_is_map_side_no_exchange(spark):
    """ivf_assign embeds the centroid set as plan literals: list
    assignment must be a pure projection over the scan — no Exchange, no
    Window, no Join between the parquet read and the (id, cent_id)
    output (the 100 TB shape ivf_topk's docstring promises)."""
    from record_matcher_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    embs = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    cents = ivf_seed_centroids(embs, "vec_id", "embedding", 8)
    plan = _plan(ivf_assign(embs, "vec_id", "embedding", cents))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_score_pairs_build_no_rdd_conversion(spark, monkeypatch):
    """Building score_pairs with DEFAULTS must not convert any DataFrame
    to an RDD (round-4 review: the old fan-out probe used
    x_df.rdd.getNumPartitions(), forcing analysis + a Python round-trip
    at plan-build time). The statistics-based estimate must still fan a
    one-split parquet x out to the floor — pinned via the plan string."""
    from pyspark.sql import DataFrame as SparkDataFrame

    from record_matcher_spark.config import ColumnRule, MatchConfig
    from record_matcher_spark.operators.scoring import (
        _estimated_scan_partitions,
        score_pairs,
    )

    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    x = cust.selectExpr(
        "c_custkey as row_id", "c_name as name", "c_nationkey as nk"
    )
    y = cust.selectExpr(
        "c_custkey as row_id", "c_name as name", "c_nationkey as nk"
    )
    # tiny parquet: the stats estimate must see a sub-floor scan
    est = _estimated_scan_partitions(x)
    assert est is not None and est < spark.sparkContext.defaultParallelism

    cfg = MatchConfig(
        rules=(ColumnRule("name", ("name",), scorer="exact_match"),),
        columns_to_group={"nk": "nk"},
        x_id="row_id", y_id="row_id",
    )

    def _no_rdd(self):
        raise AssertionError("DataFrame.rdd accessed during plan build")

    monkeypatch.setattr(SparkDataFrame, "rdd", property(_no_rdd))
    out = score_pairs(x, y, cfg)
    monkeypatch.undo()
    # the sub-floor x side was fanned out: a round-robin repartition
    # exists in the optimized plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan, plan
    assert out.limit(5).count() > 0


def test_score_pairs_build_is_job_free_and_exact(spark):
    """Building score_pairs runs ZERO Spark jobs (the uniqueness
    aggregate stays in the plan), and its rows equal, bit for bit, the
    rows scored with the collected ``uniqueness_by_columns`` map over the
    same blocked candidates."""
    from record_matcher_spark.config import ColumnRule, MatchConfig
    from record_matcher_spark.operators.scoring import (
        score_candidate_pairs,
        score_pairs,
        uniqueness_by_columns,
    )

    cust = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    y = cust.selectExpr(
        "c_custkey as row_id", "c_name as name", "c_mktsegment as seg",
        "cast(c_acctbal as string) as bal", "c_nationkey as nk",
    )
    # perturb every third name and blank every fifth balance so the
    # per-row weights and scores vary
    x = y.select(
        "row_id",
        F.when(F.col("row_id") % 3 == 0, F.concat("name", F.lit("~X")))
        .otherwise(F.col("name")).alias("name"),
        "seg",
        F.when(F.col("row_id") % 5 != 0, F.col("bal")).alias("bal"),
        "nk",
    )
    cfg = MatchConfig(
        rules=(
            ColumnRule("name", ("name",), scorer="levenshtein_ratio"),
            ColumnRule("seg", ("seg",)),
            ColumnRule("bal", ("bal",)),
        ),
        columns_to_group={"nk": "nk"},
        required_threshold=0.0,
    )

    sc = spark.sparkContext
    sc.setJobGroup("rm-score-pairs-build", "plan construction runs no jobs")
    try:
        planned = score_pairs(x, y, cfg)
        jobs = sc.statusTracker().getJobIdsForGroup("rm-score-pairs-build")
        assert list(jobs) == [], f"plan construction ran jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")

    cand = x.select(F.col("row_id").alias("x_id"), "nk").join(
        y.select(F.col("row_id").alias("y_id"), "nk"), "nk"
    ).select("x_id", "y_id")
    collected = score_candidate_pairs(
        x, y, cand, cfg,
        uniqueness=uniqueness_by_columns(x, cfg.x_match_columns),
    )
    pl = sorted(map(tuple, planned.collect()))
    co = sorted(map(tuple, collected.collect()))
    assert len(pl) == len(co) > 0
    assert pl == co  # bitwise: float equality, not tolerance
