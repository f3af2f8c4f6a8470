"""Transcript pipeline tests: datagen determinism, rollup invariant,
connected components vs union-find oracle, end-to-end cluster agreement
with the reference-semantics oracle, pairwise F1."""

from __future__ import annotations

import datetime
import decimal
import random

import pytest
from pyspark.sql import functions as F

from record_matcher_spark.datagen import generate_transcripts
from record_matcher_spark.operators import cluster
from record_matcher_spark.operators.blocking import (
    DEFAULT_TRANSCRIPT_KEYS,
    candidate_pairs,
)
from record_matcher_spark.operators.cluster import connected_components
from record_matcher_spark.operators.rollup import rollup_conversations
from record_matcher_spark.pipeline import (
    default_transcript_match_config,
    match_transcripts,
    pairwise_f1,
)
from tests.oracle import oracle_clusters, oracle_union_find

N_ENTITIES = 60
SEED = 7


def _corpus(spark):
    t, truth = generate_transcripts(spark, N_ENTITIES, seed=SEED, num_partitions=4)
    return t.cache(), truth.cache()


def test_datagen_deterministic(spark):
    t1, _ = generate_transcripts(spark, 20, seed=3, num_partitions=2)
    t2, _ = generate_transcripts(spark, 20, seed=3, num_partitions=5)
    r1 = sorted(map(tuple, t1.collect()))
    r2 = sorted(map(tuple, t2.collect()))
    assert r1 == r2  # partitioning-independent
    assert len(r1) > 100
    t3, _ = generate_transcripts(spark, 20, seed=4, num_partitions=2)
    assert sorted(map(tuple, t3.collect())) != r1


def test_rollup_roundtrip_invariant(spark):
    """Per-turn text equality under stable turn ordering (input_hint)."""
    t, _ = _corpus(spark)
    conv = rollup_conversations(t)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    back = conv.select("conv_id", F.explode("turns").alias("t")).select(
        "conv_id", *[F.col(f"t.{c}").alias(c) for c in cols[1:]]
    )
    a = sorted(map(tuple, t.select(*cols).collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_rollup_derived_columns(spark):
    t, _ = _corpus(spark)
    conv = rollup_conversations(t)
    row = conv.where(F.col("n_turns") >= 3).first()
    assert row["full_text"].count("\n") == row["n_turns"] - 1
    assert row["role_seq"].split(">")[0] in ("user", "assistant", "tool", "bot")
    first_user = [
        tr["text"] for tr in sorted(row["turns"], key=lambda r: r["turn_idx"])
        if tr["role"] == "user"
    ]
    assert row["first_user_text"] == (first_user[0] if first_user else "")


def test_connected_components_vs_union_find(spark):
    rng = random.Random(99)
    for trial in range(3):
        n = 60
        nodes = [f"n{i:03d}" for i in range(n)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randint(10, 80))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        edf = spark.createDataFrame(edges or [("n000", "n001")], "src string, dst string")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edf, "src", "dst").collect()
        }
        edge_nodes = {a for a, _ in edges} | {b for _, b in edges} or {"n000", "n001"}
        exp = oracle_union_find(sorted(edge_nodes), edges or [("n000", "n001")])
        assert got == exp, f"trial {trial}"


def _cc_dict(edf, **consts):
    """connected_components as {node: component}, with the given
    operators.cluster constants patched for the call (e.g.
    ``LOCAL_CC_MAX_EDGES=0`` closes the single-task gate so the star
    rounds run)."""
    with pytest.MonkeyPatch.context() as mp:
        for name, value in consts.items():
            mp.setattr(cluster, name, value)
        return {
            r["node"]: r["component"]
            for r in connected_components(edf, "src", "dst").collect()
        }


STAR = {"LOCAL_CC_MAX_EDGES": 0}


def test_connected_components_local_equals_distributed(spark):
    """The size-gated single-task kernel and the star-round path label
    identically (incl. self-loops, isolated-by-self-loop nodes, and a
    long chain that stresses the kernel's pointer jumping)."""
    rng = random.Random(41)
    nodes = [f"n{i:03d}" for i in range(80)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    # a 40-node chain: diameter >> 1 forces several kernel rounds
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)]
    edges += chain + [("loop", "loop")]
    edf = spark.createDataFrame(edges, "src string, dst string")
    local = _cc_dict(edf)
    dist = _cc_dict(edf, **STAR)
    assert local == dist
    assert local["loop"] == "loop"  # self-loop node = own component
    assert {local[f"c{i:03d}"] for i in range(41)} == {"c000"}


@pytest.mark.parametrize("id_type", ["decimal", "date", "nul_string", "int"])
def test_connected_components_id_types_vs_union_find(spark, id_type):
    """Non-string, non-integral ids (decimal, date) are hash-encoded like
    strings and labeled with the minimum ORIGINAL id on both strategies;
    strings with embedded NULs order as Python compares them; int ids
    keep their type."""
    rng = random.Random(13)
    make, sql_type = {
        "decimal": (lambda i: decimal.Decimal(f"{i}.{i % 7}"),
                    "decimal(10,1)"),
        "date": (lambda i: datetime.date(2020, 1, 1)
                 + datetime.timedelta(days=i), "date"),
        "nul_string": (lambda i: "a\x00" * (i % 3) + f"{i:03d}", "string"),
        "int": (lambda i: 1000 - i, "int"),
    }[id_type]
    ids = [make(i) for i in range(50)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(40)]
    edges += [(ids[i], ids[i + 1]) for i in range(30, 45)]  # a chain
    edf = spark.createDataFrame(edges, f"src {sql_type}, dst {sql_type}")
    edge_nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    exp = oracle_union_find(edge_nodes, edges)
    assert _cc_dict(edf) == exp
    assert _cc_dict(edf, **STAR) == exp
    out = connected_components(edf, "src", "dst")
    assert out.schema["node"].dataType == edf.schema["src"].dataType
    assert out.schema["component"].dataType == edf.schema["src"].dataType


def test_connected_components_round_cap_raises(spark, monkeypatch):
    """Reaching the star-round cap raises instead of returning
    unconverged labels."""
    chain = [(i, i + 1) for i in range(20)]
    edf = spark.createDataFrame(chain, "src long, dst long")
    monkeypatch.setattr(cluster, "LOCAL_CC_MAX_EDGES", 0)
    monkeypatch.setattr(cluster, "MAX_STAR_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edf, "src", "dst")


def test_connected_components_dense_id_escalation(spark):
    """Above DENSE_ID_NODE_THRESHOLD the star-round path switches from
    64-bit hashes to exact order-preserving dense ids automatically;
    labels must be identical to the hash path (threshold forced low to
    drive the escalated branch through a real graph: random edges + a
    chain)."""
    rng = random.Random(7)
    nodes = [f"n{i:03d}" for i in range(70)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edges += [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(30)]
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src string, dst string")
    dense = _cc_dict(edf, **STAR, DENSE_ID_NODE_THRESHOLD=10)
    hashed = _cc_dict(edf, **STAR)
    assert dense == hashed
    edge_nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    assert dense == oracle_union_find(edge_nodes, edges)


def test_connected_components_null_endpoints_ignored(spark):
    edges = [("a", "b"), (None, "b"), ("c", None)]
    edf = spark.createDataFrame(edges, "src string, dst string")
    for consts in ({}, STAR):
        # edges with a NULL endpoint vanish entirely (c had only one)
        assert _cc_dict(edf, **consts) == {"a": "a", "b": "a"}


def test_blocking_recall_and_determinism(spark):
    t, truth = _corpus(spark)
    conv = rollup_conversations(t)
    persisted = []
    cand = candidate_pairs(
        conv, conv, DEFAULT_TRANSCRIPT_KEYS, persisted=persisted
    )
    c1 = set(map(tuple, cand.collect()))
    c2 = set(map(tuple, candidate_pairs(
        conv, conv, DEFAULT_TRANSCRIPT_KEYS, persisted=persisted
    ).collect()))
    for d in persisted:
        d.unpersist()
    assert c1 == c2  # deterministic keys
    # blocking recall over same-entity unordered pairs
    tr = {r["conv_id"]: r["entity_id"] for r in truth.collect()}
    ents: dict[str, list[str]] = {}
    for c, e in tr.items():
        ents.setdefault(e, []).append(c)
    pos = {
        (min(a, b), max(a, b))
        for convs in ents.values()
        for i, a in enumerate(convs)
        for b in convs[i + 1 :]
    }
    cand_unordered = {(min(a, b), max(a, b)) for a, b in c1 if a != b}
    if pos:
        recall = len(pos & cand_unordered) / len(pos)
        assert recall > 0.8, f"blocking recall {recall}"


def test_pipeline_matches_oracle_clusters(spark):
    """Engine clusters must equal the reference-semantics oracle clusters
    exactly (pairwise F1 = 1.0 vs oracle >= the 0.99 bar); and F1 vs
    entity truth under identical blocking keys stays high."""
    t, truth = _corpus(spark)
    cfg = default_transcript_match_config()
    res = match_transcripts(t, cfg)

    got_clusters = {
        r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()
    }

    # oracle on the same conversation records + same candidate set
    conv_rows = res.conversations.drop("turns", "ts_min", "n_turns").collect()
    records = {
        r["conv_id"]: {k: v for k, v in r.asDict().items() if k != "conv_id"}
        for r in conv_rows
    }
    cand_map: dict[str, set] = {}
    for r in res.candidates.collect():
        cand_map.setdefault(r["x_id"], set()).add(r["y_id"])
    exp_clusters = oracle_clusters(records, cfg, cand_map)

    # compare as partitions (label = min member both sides)
    assert got_clusters == exp_clusters


def test_pipeline_threshold_mode_f1(spark):
    """Threshold edge mode: engine clusters equal the threshold-mode oracle
    AND recover the planted entities (F1 vs truth under identical blocking
    keys)."""
    from tests.oracle import oracle_threshold_clusters

    t, truth = _corpus(spark)
    cfg = default_transcript_match_config()
    res = match_transcripts(t, cfg, edge_mode="threshold")

    got_clusters = {
        r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()
    }
    conv_rows = res.conversations.drop("turns", "ts_min", "n_turns").collect()
    records = {
        r["conv_id"]: {k: v for k, v in r.asDict().items() if k != "conv_id"}
        for r in conv_rows
    }
    cand_map: dict[str, set] = {}
    for r in res.candidates.collect():
        cand_map.setdefault(r["x_id"], set()).add(r["y_id"])
    exp_clusters = oracle_threshold_clusters(records, cfg, cand_map)
    assert got_clusters == exp_clusters

    metrics = pairwise_f1(res.clusters, truth, res.candidates)
    assert metrics["f1"] >= 0.95, metrics
    assert metrics["precision"] >= 0.95, metrics


def test_block_cap_bounds_hot_block(spark):
    """Skew smoke (SURVEY §5.3): one hot blocking key >> all others must be
    dropped by the family cap, so candidate counts (max per-key join input)
    stay bounded instead of going O(hot^2); recall for the hot-shaped rows
    comes from other key families by design."""
    from record_matcher_spark.operators.blocking import BlockingKey

    rows = [(f"h{i}", "HOT") for i in range(500)] + [
        (f"c{i}", f"cold{i // 3}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "conv_id string, shape string")
    key = BlockingKey("shape", lambda d: F.col("shape"), max_block_size=64)
    persisted = []
    cand = candidate_pairs(df, df, [key], persisted=persisted)
    pairs = cand.where("x_id < y_id").collect()
    # hot block (500 rows -> would be 124,750 pairs) must contribute none
    assert all(a.startswith("c") and b.startswith("c") for a, b in map(tuple, pairs))
    # cold blocks of 3 -> 3 unordered pairs each
    assert len(pairs) == 60
    # uncapped control: the same key without a cap explodes combinatorially
    uncapped = BlockingKey("shape", lambda d: F.col("shape"))
    n_uncapped = candidate_pairs(
        df, df, [uncapped], persisted=persisted
    ).where("x_id < y_id").count()
    for d in persisted:
        d.unpersist()
    assert n_uncapped == 124_750 + 60


def test_pipeline_unpersist_releases_cached_frames(spark):
    """match_transcripts registers every persisted DataFrame and
    unpersist() releases them (no storage accumulation across runs)."""
    t, _ = _corpus(spark)
    res = match_transcripts(t, edge_mode="threshold")
    res.clusters.count()
    assert len(res.persisted) >= 4  # conv, keyed relation, cand, pairs, clusters
    assert any(df.storageLevel.useMemory for df in res.persisted)
    res.unpersist()
    assert res.persisted == []


def test_observation_progress_metrics(spark):
    """observe=True collects per-stage metrics during the stage actions
    (Observation — the Spark-native update_func replacement) without any
    extra jobs; numbers agree with direct counts."""
    t, _ = _corpus(spark)
    res = match_transcripts(t, edge_mode="threshold", observe=True)
    n = res.clusters.count()
    prog = res.progress()
    assert set(prog) == {"conversations", "candidates", "pairs", "clusters"}
    assert prog["conversations"]["n_conversations"] == res.conversations.count()
    assert prog["clusters"]["n_rows"] == n
    assert prog["pairs"]["n_scored_pairs"] >= prog["pairs"]["n_passing"] > 0
    assert prog["conversations"]["avg_turns"] > 1
    res.unpersist()


def test_scoring_stage_build_is_job_free_and_exact(spark):
    """Constructing the pipeline's scoring stage must trigger NO Spark job:
    the weight statistics ride the plan as a scalar subquery
    (scoring._planned_uniqueness) instead of an eager collect — and the
    resulting scores must be BIT-identical to scoring with the collected
    map (both divide the same exact integer counts with one
    correctly-rounded double division)."""
    from record_matcher_spark.operators.blocking import candidate_pairs
    from record_matcher_spark.operators.scoring import (
        score_candidate_pairs,
        uniqueness_by_columns,
    )
    from record_matcher_spark.pipeline import default_transcript_match_config

    t, _ = _corpus(spark)
    conv = rollup_conversations(t).drop("turns").cache()
    conv.count()  # materialize inputs; the assertion targets PLAN BUILDING
    cfg = default_transcript_match_config()
    persisted = []
    cand = candidate_pairs(conv, conv, persisted=persisted).where("x_id <> y_id")
    cand = cand.cache()
    cand.count()
    for d in persisted:
        d.unpersist()

    sc = spark.sparkContext
    sc.setJobGroup("rm-build-probe", "plan construction must run no jobs")
    try:
        planned = score_candidate_pairs(conv, conv, cand, cfg)
        jobs = sc.statusTracker().getJobIdsForGroup("rm-build-probe")
        assert list(jobs) == [], f"plan construction ran jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")

    collected = score_candidate_pairs(
        conv, conv, cand, cfg,
        uniqueness=uniqueness_by_columns(conv, cfg.x_match_columns),
    )
    pl = sorted(map(tuple, planned.collect()), key=lambda r: (r[0], r[1]))
    co = sorted(map(tuple, collected.collect()), key=lambda r: (r[0], r[1]))
    assert len(pl) == len(co) > 0
    assert pl == co  # bitwise: float equality, not tolerance
    conv.unpersist(); cand.unpersist(); t.unpersist()
