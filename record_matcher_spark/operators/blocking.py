"""Blocking-key derivation + candidate-pair generation.

Generalizes the reference's exact-equality blocking (``columns_to_group``,
records.py:106-132) to derived keys for the transcript payload
(BASELINE.json north_star): normalized-token keys, role-sequence keys, and
MinHash band keys — each an embarrassingly-parallel column expression, with
candidates produced by equi-joins and deduped by (x_id, y_id).

Scale design:
- every key family is a pure Catalyst expression (no Python);
- per-family block-size capping drops pathological blocks BEFORE the join
  (a block of size B costs B^2 pairs — a single degenerate key, e.g. the
  empty token set, would otherwise dominate the whole job);
- hot keys (skewed blocks under the cap) are handled by AQE skew-join
  splitting; candidate-pair dedup is one distinct on (x_id, y_id);
- MinHash signatures use k independent xxhash64 draws folded per band, so
  band keys are integers (cheap shuffle keys).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType


@dataclass(frozen=True)
class BlockingKey:
    """One blocking-key family.

    ``expr`` maps a conversation-record DataFrame to a scalar key Column
    (string or long).
    ``keyed`` (alternative to expr): full control — maps (df, id_col) to a
    DataFrame[_id, _k] directly, for keys that are cheaper as a
    relational plan than as one row expression, or where a record belongs
    to several blocks (MinHash bands).
    ``max_block_size``: drop keys whose block exceeds this many rows on
    either side (None = uncapped).
    """

    name: str
    expr: Callable[[DataFrame], Column] | None = None
    max_block_size: int | None = None
    keyed: Callable[[DataFrame, str], DataFrame] | None = None


def _tokens(col: Column) -> Column:
    """Distinct lowercase whitespace tokens, empty ones dropped."""
    return F.array_distinct(
        F.filter(
            F.split(F.trim(F.lower(col)), r"\s+"), lambda t: t != F.lit("")
        )
    )


# Block caps and key geometry of the transcript blocking families.
# Role sequences are heavy-tailed (the synthetic corpus plants one hot
# 6-turn pattern on ~20% of conversations; real agent traffic behaves the
# same) and an uncapped hot block of B rows costs B² pairs, so the shape
# family is capped; recall for hot-shaped conversations comes from the
# content-based keys (token prefix / MinHash bands).
ROLE_SEQ_MAX_BLOCK = 64
TOKEN_PREFIX_K = 3
MINHASH_HASHES = 16
MINHASH_BANDS = 4
MINHASH_MAX_BLOCK = 256


def role_seq_key() -> BlockingKey:
    """Conversation-shape block: the rollup's exact ``role_seq``, capped
    at ``ROLE_SEQ_MAX_BLOCK``."""
    return BlockingKey("role_seq", lambda df: F.col("role_seq"),
                       max_block_size=ROLE_SEQ_MAX_BLOCK)


def token_prefix_key(column: str) -> BlockingKey:
    """Normalized-token key: first ``TOKEN_PREFIX_K`` distinct lowercase
    tokens in sorted order — robust to word order / duplication, cheap to
    compute."""
    k = TOKEN_PREFIX_K

    def expr(df: DataFrame) -> Column:
        toks = F.slice(F.sort_array(_tokens(F.col(column))), 1, k)
        return F.array_join(toks, " ")

    return BlockingKey(f"tokpfx_{column}_{k}", expr)


def minhash_band_keys(hashes_column: str = "tok_hashes_lower") -> BlockingKey:
    """MinHash LSH band keys over the token-hash set in ``hashes_column``,
    blocks capped at ``MINHASH_MAX_BLOCK``.

    Signature: for hash i < ``MINHASH_HASHES``, min over tokens of
    xxhash64(i, token hash). Bands of r = MINHASH_HASHES / MINHASH_BANDS
    rows are folded into one xxhash64 integer key per band. Two records
    with token-set Jaccard s collide in at least one band with prob
    1 - (1 - s^r)^b.

    ``hashes_column`` is an ``array<long>`` of distinct xxhash64 token
    hashes, one of the rollup's tokenize-once columns
    (operators/rollup.py): ``tok_hashes_lower`` (the default, case-folded)
    or ``tok_hashes`` (case-sensitive). No stage here tokenizes text. A
    frame without the column is an error, and so is a wrongly typed one,
    rather than a silent recall loss. Case-folding matters for RECALL:
    measured on a corpus whose variants flip word case with p=0.3,
    case-sensitive minhash-only candidate recall collapses to ~0.16 vs
    ~0.62 case-folded at the default 16x4 geometry (per-band collision
    probability is 1-(1-s^4)^4 and case flips crater the case-sensitive
    Jaccard s), and even with the other two families covering, the full
    default keyset loses ~8pp of pairs (tests/test_blocking_recall.py
    pins this).

    Implemented as explode(token hashes) → groupBy(id).agg(min(hash_i)...):
    pure whole-stage codegen (explode, per-draw xxhash64, native min
    aggregate) with map-side partial aggregation, no per-row
    signature-array materialization, and the groupBy reuses the upstream
    conv_id partitioning (no extra shuffle after the rollup). The
    num_hashes per-token draws are xxhash64 over the token's fixed-width
    long hash, which preserves the MinHash property: the draws are still
    num_hashes independent uniform functions of the token (collisions
    between distinct tokens remain ~2^-64). Min is order-insensitive, so
    the unspecified array element order cannot change a key. Two per-row
    forms were measured and rejected: an expression-level ``transform``
    building all num_hashes × |tokens| draws per row was a GC storm at
    high thread counts, and ``array_min`` over ``transform`` draws (no
    explode/aggregate) interprets its lambda per element, which cost more
    than the codegen explode+aggregate.
    """
    num_hashes, bands = MINHASH_HASHES, MINHASH_BANDS
    r = num_hashes // bands

    def keyed(df: DataFrame, id_col: str) -> DataFrame:
        try:
            dt = df.schema[hashes_column].dataType
        except KeyError:
            raise ValueError(
                f"minhash hashes_column {hashes_column!r} not in the input "
                f"columns {df.columns}; roll the input up with "
                f"operators.rollup.rollup_conversations"
            ) from None
        if not (
            isinstance(dt, ArrayType) and isinstance(dt.elementType, LongType)
        ):
            raise TypeError(
                f"minhash hashes_column {hashes_column!r} must be "
                f"array<bigint> (distinct xxhash64 token hashes), got "
                f"{dt.simpleString()}"
            )
        ex = df.select(
            F.col(id_col).alias("_id"),
            F.explode(F.col(hashes_column)).alias("_t"),
        )
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("_t"))).alias(f"_h{i}")
            for i in range(num_hashes)
        ]
        sig = ex.groupBy("_id").agg(*aggs)
        band_cols = [
            F.xxhash64(F.lit(b), *[F.col(f"_h{i}") for i in range(b * r, (b + 1) * r)])
            for b in range(bands)
        ]
        # records with an empty token set produce no exploded rows and
        # therefore no keys (blanks never form a block)
        return sig.select("_id", F.explode(F.array(*band_cols)).alias("_k"))

    return BlockingKey(
        f"minhash_{hashes_column}_{num_hashes}x{bands}",
        keyed=keyed,
        max_block_size=MINHASH_MAX_BLOCK,
    )


DEFAULT_TRANSCRIPT_KEYS: tuple[BlockingKey, ...] = (
    role_seq_key(),
    token_prefix_key("first_user_text"),
    # Case-FOLDED minhash (hashes_column="tok_hashes_lower", the rollup's
    # second tokenize-once column): a case-sensitive family sharing the
    # scorer's tok_hashes was tried in an earlier round and measured to
    # lose ~8pp of candidate recall on a 30%-case-noised corpus (0.84 vs
    # 0.92 for the full keyset; minhash-only 0.16 vs 0.62) — case flips
    # crater case-sensitive Jaccard and band collisions die with s^r.
    # The lower column keeps tokenization once-per-normalization in the
    # rollup projection; no stage here re-tokenizes.
    minhash_band_keys(),
)


def _keyed(df: DataFrame, id_col: str, key: BlockingKey) -> DataFrame:
    """→ DataFrame[_id, _k] for one family (blanks dropped, no capping)."""
    if key.keyed is not None:
        out = key.keyed(df, id_col)
    else:
        out = df.select(F.col(id_col).alias("_id"), key.expr(df).alias("_k"))
    blank = F.col("_k").isNull()
    if isinstance(out.schema["_k"].dataType, StringType):
        # blanks never form a block — string-typed keys only (a numeric
        # key is never '', and casting it per row just to check would be
        # allocation churn on the most numerous family)
        blank = blank | (F.col("_k") == "")
    return out.where(~blank)


def _tagged_keys(
    df: DataFrame, id_col: str, keys: Sequence[BlockingKey]
) -> DataFrame:
    """All families' (record, block-key) rows in ONE relation [_kk, _f, _id].

    ``_kk = xxhash64(family_index, key)`` folds every family's key (string
    or long) into one 8-byte join key with the family baked in, so the
    whole candidate generation is a single equi-join instead of one join
    per family. The key is hashed in its NATIVE type (no cast-to-string:
    a long→string conversion per row on the most numerous family — the
    MinHash bands — was pure allocation churn; xxhash64 is well-defined
    for both types and the family index keeps families disjoint either
    way). A cross-family 64-bit collision merely yields a spurious
    candidate pair, which scoring then rejects — recall is unaffected.
    Consolidated risk register: README, "64-bit hash-equality risk
    register".
    """
    fams = []
    for i, key in enumerate(keys):
        k = _keyed(df, id_col, key)
        fams.append(
            k.select(
                F.xxhash64(F.lit(i), F.col("_k")).alias("_kk"),
                F.lit(i).alias("_f"),
                "_id",
            )
        )
    out = fams[0]
    for f in fams[1:]:
        out = out.unionByName(f)
    return out


def _cap_blocks(
    keyed: DataFrame, keys: Sequence[BlockingKey]
) -> DataFrame:
    """Drop keys whose block exceeds the family's ``max_block_size``.

    Over-cap keys are found with a groupBy (map-side partial aggregation
    spreads a hot key across all input partitions) and removed with an
    anti-join. A Window.partitionBy(key) count would funnel each hot block
    into ONE task — the hot key is exactly the block being dropped, so
    that task serializes the stage and caps scaling at any core count.

    The over-cap set is NOT explicitly broadcast: with aggressive caps on
    a heavy-tailed family it can grow large, and a forced broadcast would
    risk OOM instead of degrading to a shuffle join — AQE picks the
    strategy from the measured size at runtime.

    Collision caveat: sizes are counted on the 64-bit fused hash ``_kk``
    (shipping the raw keys again would double the shuffle payload), so a
    same-family hash collision merges two keys' counts and can in
    principle drop an under-cap block (bounded recall loss with
    probability ~pairs/2^64 — distinct from the join-side collision mode,
    which only ever ADDS a spurious candidate).
    """
    if not any(k.max_block_size for k in keys):
        return keyed
    over_cond = F.lit(False)
    for i, key in enumerate(keys):
        if key.max_block_size:
            over_cond = over_cond | (
                (F.col("_f") == i) & (F.col("_n") > key.max_block_size)
            )
    over = (
        keyed.groupBy("_kk", "_f")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(over_cond)
        .select("_kk", "_f")
    )
    return keyed.join(over, ["_kk", "_f"], "left_anti")


def candidate_pairs(
    x_df: DataFrame,
    y_df: DataFrame,
    keys: Sequence[BlockingKey] = DEFAULT_TRANSCRIPT_KEYS,
    *,
    x_id: str = "conv_id",
    y_id: str = "conv_id",
    persisted: list,
) -> DataFrame:
    """Blocked candidate generation, deduped → [x_id, y_id].

    One tagged keyed relation per side (all families unioned, §_tagged_keys)
    is persisted BEFORE capping — the cap's count branch, the cap's
    anti-join probe branch, and the join side(s) all read the cached
    relation, so key derivation (notably the MinHash explode+agg) runs
    once per side, not once per consumer. When both sides are the same
    DataFrame (self-match) a single keyed relation is joined with itself,
    and the output holds both orientations of each pair plus the identity
    pairs, which callers drop.

    ``persisted``: caller-supplied list that receives the persisted keyed
    relation(s) — unpersist them once the output is materialized
    (repeated invocations in one session would otherwise accumulate
    storage). :func:`record_matcher_spark.pipeline.match_transcripts`
    threads this through to ``TranscriptMatchResult.unpersist()``.
    """
    same_side = y_df is x_df and x_id == y_id

    def _keyed_side(df: DataFrame, id_col: str) -> DataFrame:
        tagged = _tagged_keys(df, id_col, keys).persist()
        persisted.append(tagged)
        return _cap_blocks(tagged, keys)

    kx = _keyed_side(x_df, x_id)
    ky = kx if same_side else _keyed_side(y_df, y_id)

    left = kx.select("_kk", F.col("_id").alias("x_id"))
    right = ky.select("_kk", F.col("_id").alias("y_id"))
    return left.join(right, "_kk").select("x_id", "y_id").distinct()
