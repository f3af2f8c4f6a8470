"""Oracle-exact text hashing primitives: Spark expression + DuckDB SQL twin.

The training-data dedup operators (MinHash-LSH, SimHash, fingerprinting)
need hash functions the DuckDB correctness oracle can replicate *bit for
bit*. ``xxhash64`` is Spark-only, so production code paths use it for
blocking (operators/blocking.py) while the oracle-checked dedup operators
use an integer polynomial hash mod p = 2^31 - 1: every step is int64
arithmetic with intermediates < 2^62 (ANSI-safe, no overflow in either
engine), and each Spark expression here has a DuckDB SQL generator twin
producing the exact same integers.

Extends the reference's scorer-twin pattern (functions/scorers.py: Spark
expr + pure-Python ``py`` twin) to a Spark expr + SQL twin.

Parity is pinned by tests/test_dataops.py which runs both engines on the
same parquet and compares values.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime). a*h + b stays < 2^62 for a, h < P.
P = 2_147_483_647
BASE = 31

# MinHash permutation parameters (a_i, b_i), fixed seed => identical
# literals are embedded in the Spark plan and the generated oracle SQL.
_rng = random.Random(0x5EED)
MINHASH_A = [_rng.randrange(1, P) for _ in range(64)]
MINHASH_B = [_rng.randrange(0, P) for _ in range(64)]

# Tokenization shared by both engines: ASCII-whitespace split of the
# trimmed, lowercased text; empty tokens dropped; order preserved.
_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(trim(lower({col})), '\\s+'),"
    " t -> t <> '')"
)


def q6_expr(col: Column) -> Column:
    """Quantize a double to 6 dp identically in Spark and DuckDB.

    ``round(x, 6)`` differs between the engines at half-way boundaries
    (Spark rounds the exact binary value via BigDecimal; DuckDB scales and
    rounds) — observed on real data. floor(x*1e6 + 0.5)/1e6 is pure double
    arithmetic + exact floor, so both engines produce the same double.
    """
    return F.floor(col * 1e6 + F.lit(0.5)) / 1e6


def q6_sql(expr: str) -> str:
    return f"(floor(({expr}) * 1e6 + 0.5) / 1e6)"


def tokens_expr(col: Column) -> Column:
    """Ordered lowercase whitespace tokens (non-distinct)."""
    return F.filter(
        F.split(F.trim(F.lower(col)), r"\s+"), lambda t: t != F.lit("")
    )


def tokens_sql(col: str) -> str:
    return _TOKENS_SQL.format(col=col)


def poly_hash_expr(codes: Column) -> Column:
    """h = fold(codes, 0, (acc, c) -> (acc*31 + c) % P) over an int array."""
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * BASE + c.cast("long")) % P,
    )


def poly_hash_sql(codes: str) -> str:
    # DuckDB list_reduce has no init arg: prepend the 0 seed.
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), "
        f"(acc, c) -> (acc * {BASE} + c) % {P})"
    )


def token_hash_expr(tok: Column) -> Column:
    """Polynomial hash of one token's code points."""
    return poly_hash_expr(F.transform(F.split(tok, ""), F.ascii))


def token_hash_sql(tok: str) -> str:
    codes = (
        f"list_transform(regexp_split_to_array({tok}, ''), "
        "c -> CAST(ord(c) AS BIGINT))"
    )
    return poly_hash_sql(codes)


def token_hashes_expr(text: Column) -> Column:
    """array<long>: ordered per-token polynomial hashes of ``text``."""
    return F.transform(tokens_expr(text), token_hash_expr)


def token_hashes_sql(col: str) -> str:
    return f"list_transform({tokens_sql(col)}, tok -> {token_hash_sql('tok')})"


def shingle_hashes_expr(th: Column, k: int) -> Column:
    """Word k-shingle hashes from a token-hash array.

    s_j = poly(th[j..j+k-1]); documents shorter than k tokens degrade to a
    single whole-document shingle so short docs still participate.
    """
    kgram = F.transform(
        F.sequence(F.lit(0), F.size(th) - k),
        lambda j: poly_hash_expr(F.slice(th, j + 1, k)),
    )
    return F.when(F.size(th) >= k, kgram).otherwise(
        F.array(poly_hash_expr(th))
    )


def shingle_hashes_sql(th: str, k: int) -> str:
    kgram = (
        f"list_transform(range(1, len({th}) - {k} + 2), "
        f"j -> {poly_hash_sql(f'{th}[j:j+{k}-1]')})"
    )
    return (
        f"CASE WHEN len({th}) >= {k} THEN {kgram} "
        f"ELSE [{poly_hash_sql(th)}] END"
    )


def minhash_sig_exprs(shingles: Column, num_hashes: int) -> list[Column]:
    """sig_i = min over shingles s of (a_i*s + b_i) % P (one Column each)."""
    return [
        F.array_min(
            F.transform(
                shingles,
                lambda s: (F.lit(MINHASH_A[i]) * s + F.lit(MINHASH_B[i])) % P,
            )
        ).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_sig_sqls(shingles: str, num_hashes: int) -> list[str]:
    return [
        (
            f"list_min(list_transform({shingles}, "
            f"s -> ({MINHASH_A[i]} * s + {MINHASH_B[i]}) % {P}))"
        )
        for i in range(num_hashes)
    ]


def band_key_expr(sig_cols: list[Column]) -> Column:
    """Fold one band's signature rows into a single integer key."""
    key = F.lit(0).cast("long")
    for c in sig_cols:
        key = (key * BASE + c) % P
    return key


def band_key_sql(sig_sqls: list[str]) -> str:
    key = "CAST(0 AS BIGINT)"
    for s in sig_sqls:
        key = f"(({key}) * {BASE} + ({s})) % {P}"
    return key


# SimHash band re-hash constants: the poly token hash only carries 31 bits
# (mod P), so a wide signature must draw fresh bits per band via
# independent affine permutations g_k(h) = (a_k*h + b_k) % P (the MinHash
# trick). Indices 48..51 of the shared pools keep the literals disjoint
# from typical minhash use (<= 32 hashes).
SIMHASH_BAND_BITS = 15
SIMHASH_NBANDS = 4
_SIMHASH_REHASH = [(MINHASH_A[48 + k], MINHASH_B[48 + k]) for k in range(4)]


def simhash60_expr(th: Column) -> Column:
    """60-bit banded SimHash: band k's 15 bits are the simhash of the
    re-hashed token stream g_k(th). Equivalent to a plain simhash of the
    60-bit token hash concat(low15(g_0(t)), ..., low15(g_3(t))); every
    intermediate stays a positive int64 in both engines."""
    sig = F.lit(0).cast("long")
    for k, (a, b) in enumerate(_SIMHASH_REHASH):
        g = F.transform(th, lambda h: (F.lit(a) * h + F.lit(b)) % P)
        band = simhash_expr(g)
        sig = sig + band * F.lit(1 << (SIMHASH_BAND_BITS * k)).cast("long")
    return sig


def simhash60_sql(th: str) -> str:
    terms = []
    for k, (a, b) in enumerate(_SIMHASH_REHASH):
        g = f"list_transform({th}, h -> ({a} * h + {b}) % {P})"
        band = simhash_sql(g)
        terms.append(f"({band}) * {1 << (SIMHASH_BAND_BITS * k)}")
    return "(" + " + ".join(terms) + ")"


def simhash_expr(th: Column) -> Column:
    """``SIMHASH_BAND_BITS``-bit SimHash over token-hash array
    (frequency-weighted: every occurrence votes). Bit b of the signature
    is 1 iff sum over tokens of (((h >> b) & 1) * 2 - 1) > 0."""
    def _vote_fn(b: int):
        return lambda acc, h: acc + (
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    parts = []
    for b in range(SIMHASH_BAND_BITS):
        vote = F.aggregate(th, F.lit(0).cast("long"), _vote_fn(b))
        parts.append(F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long")))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def simhash_sql(th: str) -> str:
    terms = []
    for b in range(SIMHASH_BAND_BITS):
        vote = (
            f"list_sum(list_transform({th}, "
            f"h -> ((h >> {b}) & 1) * 2 - 1))"
        )
        terms.append(
            f"CASE WHEN {vote} > 0 THEN CAST({1 << b} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(terms) + ")"
