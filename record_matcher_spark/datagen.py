"""Deterministic synthetic transcript corpus (FIXTURES.md §F1/F2).

Generates the north-star input shape (BASELINE.json ``input_hint``):
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` plus an entity-truth table for the pairwise-F1
harness.

Entities → conversations: each entity has one base conversation and 0-3
duplicate variants produced by seeded perturbations (typos, token drops,
case/whitespace noise, occasional role renames, ts jitter). ~20% of
entities share one hot role-sequence (skew, exercises salting/AQE).

Generation is distributed (``mapInPandas`` over a range of entity ids) and
deterministic irrespective of partitioning: every value derives from a
``numpy`` generator seeded by ``(seed, entity_id)`` only. No external data.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), False),
        StructField("tool", StringType(), False),
        StructField("ts", TimestampType(), False),
    ]
)

_VOCAB = [
    f"{w}{i}"
    for i in range(40)
    for w in ("alpha", "beta", "gamma", "delta", "query", "table", "spark",
              "merge", "batch", "vector", "index", "shard")
]
_TOOLS = ["", "", "", "search", "calculator", "browser", "python", "sql"]
_EPOCH = datetime(2025, 1, 1)
# Share of entities on the one hot 6-turn role sequence (the skew case).
HOT_FRAC = 0.2


def _gen_entity(entity_id: int, seed: int):
    """All turn rows for one entity (base + variants). Pure function of
    (entity_id, seed)."""
    rng = np.random.default_rng((seed << 20) ^ entity_id)
    hot = rng.random() < HOT_FRAC
    n_turns = 6 if hot else int(rng.integers(3, 41))
    n_variants = int(rng.integers(0, 4))
    topic = rng.choice(_VOCAB, size=int(rng.integers(5, 16)), replace=False)
    base_ts = _EPOCH + timedelta(seconds=int(rng.integers(0, 365 * 24 * 3600)))

    # base conversation
    turns = []
    for t in range(n_turns):
        role = "user" if t % 2 == 0 else "assistant"
        tool = ""
        if not hot and role == "assistant" and rng.random() < 0.25:
            role = "tool"
            tool = str(rng.choice(_TOOLS[3:]))
        k = int(rng.integers(4, 13))
        words = list(rng.choice(topic, size=min(k, len(topic)), replace=False))
        words += list(rng.choice(_VOCAB, size=max(0, k - len(words))))
        text = " ".join(words)
        ts = base_ts + timedelta(seconds=t * int(rng.integers(5, 90)) + t)
        turns.append((t, role, text, tool, ts))

    rows = []
    ent = f"e{entity_id:08d}"
    for v in range(n_variants + 1):
        vrng = np.random.default_rng((seed << 21) ^ (entity_id * 7 + v))
        conv_id = f"{ent}v{v}"
        for t, role, text, tool, ts in turns:
            if v > 0:
                text = _perturb_text(text, vrng)
                if role == "assistant" and vrng.random() < 0.05:
                    role = "bot"
                ts = ts + timedelta(seconds=int(vrng.integers(-30, 31)))
            rows.append((conv_id, t, role, text, tool, ts, ent))
    return rows


def _perturb_text(text: str, rng: np.random.Generator) -> str:
    words = text.split()
    out = []
    for w in words:
        r = rng.random()
        if r < 0.04 and len(words) > 3:
            continue  # token drop
        if r < 0.10 and len(w) > 3:
            i = int(rng.integers(0, len(w) - 1))
            w = w[:i] + w[i + 1] + w[i] + w[i + 2:]  # adjacent transposition
        elif r < 0.14:
            w = w.upper() if rng.random() < 0.5 else w.capitalize()
        out.append(w)
    s = " ".join(out) if out else text
    if rng.random() < 0.08:
        s = s + "  "  # trailing whitespace noise
    return s


def generate_transcripts(
    spark: SparkSession,
    n_entities: int,
    seed: int = 42,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(transcripts, truth) DataFrames for ``n_entities`` entities.

    Distributed and deterministic: each entity's rows are a pure function
    of (entity_id, seed), generated inside ``mapInPandas`` — no driver-side
    loops, scales linearly with executors.
    """
    out_schema = StructType(
        TRANSCRIPT_SCHEMA.fields + [StructField("entity_id", StringType(), False)]
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                rows.extend(_gen_entity(int(eid), seed))
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id", "turn_idx", "role", "text", "tool", "ts",
                    "entity_id",
                ],
            )

    rng_df = spark.range(n_entities, numPartitions=num_partitions)
    full = rng_df.mapInPandas(gen, schema=out_schema)
    transcripts = full.select(*[f.name for f in TRANSCRIPT_SCHEMA.fields])
    truth = full.select("conv_id", "entity_id").distinct()
    return transcripts, truth
