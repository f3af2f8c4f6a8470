"""Turn → conversation rollup.

Maps the reference's flat "record" model (records.py:5-30) onto the
north-star transcript payload: one record per conversation, with derived
match columns, built from the turns table in a single groupBy.

Pinned invariant (BASELINE.json ``input_hint``): per-turn text equality
under stable turn ordering — the ``turns`` array is sorted by
``(turn_idx, ts)`` and exploding it back yields exactly the input rows
(tests/test_transcripts.py, ``test_rollup_roundtrip_invariant``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.functions.scorers import _token_hashes_prep

# Separator of every rolled-up sequence string (``role_seq``, ``tool_seq``,
# ``rollup_sequence``'s ``{value_col}_seq``).
SEQ_SEP = ">"


def rollup_conversations(transcripts: DataFrame) -> DataFrame:
    """One row per conv_id with ordered turns + derived match columns.

    This is the one place conversation text is tokenized. Two columns
    (both ``array<long>``) carry the result to every consumer:

    - ``tok_hashes`` — xxhash64 over the conversation's DISTINCT
      whitespace-split ``full_text`` tokens, case-sensitive. Built with
      the ``token_set_jaccard`` scorer's own prep expression
      (functions/scorers ``_token_hashes_prep``) so twin-ship is by
      construction; Jaccard scoring reads it via ``ColumnRule.prepped``
      on BOTH join sides.
    - ``tok_hashes_lower`` — the same expression over
      ``lower(full_text)``: the CASE-FOLDED token-hash set the default
      MinHash blocking family consumes (``DEFAULT_TRANSCRIPT_KEYS``,
      operators/blocking). Blocking needs case-folded normalization for
      recall — measured on a 30%-case-noised corpus, case-sensitive
      minhash-only candidate recall collapses to ~0.16 vs ~0.62
      case-folded (tests/test_blocking_recall.py pins the full-keyset
      recall) — while scoring keeps the scorer's case-sensitive
      semantics.

    Both are plain projections over ``full_text`` — no extra aggregation,
    no join, the rollup's plan shape is unchanged. Each NORMALIZATION of
    the corpus is tokenized exactly once, here. MinHash blocking
    (``hashes_column``), Jaccard scoring (``ColumnRule.prepped``) and
    ``match_increment``'s base require these columns and have no
    re-tokenizing fallback (pinned in tests/test_tokenize_once.py).

    One shuffle (groupBy conv_id) — and ZERO shuffles when the input is
    already clustered by conv_id (Iceberg bucket layout): the aggregate's
    required distribution is satisfied by the child partitioning
    (pinned in tests/test_plans.py).

    The per-conversation turn order is ``sort_array`` over structs keyed
    by (turn_idx, ts) — deterministic, executor-side, no window needed.

    Tuning (measured on the rollup stage of the transcript pipeline;
    ``python3 erbench/run.py --workload transcripts_batch --seed 1
    --seconds 15 --trace 1`` reports its per-stage executor CPU, GC and
    spill): ``collect_list`` plans as
    ObjectHashAggregate, which falls back to serialize-sort-merge past
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold`` (default
    128!) groups per task — at conversation-scale groups that fallback
    tripled the stage's memory traffic. The bench harness uses 131072.

    Sizing the threshold (raise it only within this budget): with the
    threshold above the per-task group count, a task's aggregation state
    is ALL of its conversations' turn structs at once, i.e. roughly

        state/task ~ (rows_in / tasks) * bytes_per_turn        (turns
        uniformly spread; a hot conversation adds its full size to one
        task's state on top of that)

    and it must fit in that task's share of execution memory:
    ``spark.executor.memory * spark.memory.fraction / executor cores``.
    Worked example: 128 MiB input splits of ~150-byte turn rows ->
    ~0.9 M turns -> ~300 MB of unserialized struct state per task — fine
    at 4 GB/core, an OOM risk at 1 GB/core. The trade is explicit:
    UNDER-thresholding degrades every task to serialize-sort-merge
    (measured ~3x stage memory traffic, ~19% of an 8-core pipeline
    wall); OVER-thresholding under memory pressure trades that slowdown
    for an OOM — the fallback IS the spill mechanism, so when the budget
    above doesn't hold, leave the threshold low (or shrink
    ``spark.sql.files.maxPartitionBytes`` so per-task state shrinks
    instead). At 10^12-turn scale prefer more/smaller input splits over a
    bigger threshold: the state formula scales with split size, not
    corpus size.
    """
    turn = F.struct(
        F.col("turn_idx"),
        F.col("ts"),
        F.col("role"),
        F.col("text"),
        F.coalesce(F.col("tool"), F.lit("")).alias("tool"),
    )
    agg = transcripts.groupBy("conv_id").agg(
        F.sort_array(F.collect_list(turn)).alias("turns"),
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("ts_min"),
    )
    texts = F.transform("turns", lambda t: t["text"])
    roles = F.transform("turns", lambda t: t["role"])
    tools = F.filter(
        F.transform("turns", lambda t: t["tool"]), lambda s: s != F.lit("")
    )
    first_user = F.filter(
        "turns", lambda t: t["role"] == F.lit("user")
    )[0]["text"]
    out = agg.select(
        "conv_id",
        "n_turns",
        F.array_join(texts, "\n").alias("full_text"),
        F.coalesce(first_user, F.lit("")).alias("first_user_text"),
        F.array_join(roles, SEQ_SEP).alias("role_seq"),
        F.array_join(tools, SEQ_SEP).alias("tool_seq"),
        "ts_min",
        "turns",
    )
    return out.select(
        "*",
        _token_hashes_prep(F.col("full_text")).alias("tok_hashes"),
        _token_hashes_prep(F.lower(F.col("full_text"))).alias(
            "tok_hashes_lower"
        ),
    )


def rollup_sequence(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Generic key → ordered-value-sequence rollup.

    Same plan shape as :func:`rollup_conversations` (ONE groupBy shuffle,
    executor-side ``sort_array`` over structs — no window): for each key,
    the values of ``value_col`` ordered by ``order_cols`` joined with
    ``SEQ_SEP``, plus item count and the minimum of the first order column.
    Usable for any event-stream table (sessionization-style rollup).

    Output: [key_col, {value_col}_seq, n_items, {order_cols[0]}_min].
    """
    item = F.struct(
        *[F.col(c) for c in order_cols], F.col(value_col).alias("_v")
    )
    seq = F.array_join(
        F.transform(F.sort_array(F.collect_list(item)), lambda t: t["_v"]),
        SEQ_SEP,
    )
    return df.groupBy(key_col).agg(
        seq.alias(f"{value_col}_seq"),
        F.count(F.lit(1)).alias("n_items"),
        F.min(order_cols[0]).alias(f"{order_cols[0]}_min"),
    )

