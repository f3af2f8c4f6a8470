"""Scorer registry: named pair-similarity functions on a 0-100 scale.

The reference defines a scorer as ``Callable[[str, str], int | float]``
returning >= 0 (/root/reference/record_matcher/matcher.py:48-52) with one
built-in, ``exact_match = lambda x, y: 100.0 if x == y else 0.0``
(config.py:349), registered by name in a pluggable dict
(config.py:349-400; docstring advertises ``fuzzy_match`` / ``token_match``
names, config.py:325-327).

The Spark build keeps the named-registry contract but a scorer produces a
**Column expression** over two string columns. Catalyst-expressible scorers
(exact, levenshtein ratio, token-set Jaccard) stay JVM-side inside
whole-stage codegen; the rest (jaro_winkler) are Arrow-batched pandas UDFs —
never row-at-a-time Python UDFs.

Every scorer also carries a pure-Python twin (``py``) with identical
semantics, used by the vendored differential oracle and unit tests.

Blank semantics (reference matcher.py:78-81): values are compared as
strings with missing/None coerced to ``""``; ``"" == ""`` scores 100 under
exact_match — consistently, every scorer here scores two blanks as 100 and
one blank vs non-blank as 0 (ratio scorers derive this naturally).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# Java \s (ASCII whitespace) — keep the Python twin identical to Spark's
# split(col, '\\s+') so oracle and engine tokenize the same way.
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def blank_coalesce(col: Column) -> Column:
    """str-coerce with missing->'' (reference matcher.py:78-81)."""
    return F.coalesce(col.cast("string"), F.lit(""))


# --------------------------------------------------------------------------
# pure-Python twins (oracle + unit tests)
# --------------------------------------------------------------------------


def _py_exact(x: str, y: str) -> float:
    return 100.0 if x == y else 0.0  # reference config.py:349


def _py_levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _py_levenshtein_ratio(x: str, y: str) -> float:
    denom = max(len(x), len(y), 1)
    return 100.0 * (1.0 - _py_levenshtein(x, y) / denom)


def _py_tokens(s: str) -> set[str]:
    s = s.strip()
    if not s:
        return set()
    return set(_WS_RE.split(s))


def _py_token_set_jaccard(x: str, y: str) -> float:
    tx, ty = _py_tokens(x), _py_tokens(y)
    if not tx and not ty:
        return 100.0
    union = len(tx | ty)
    return 100.0 * len(tx & ty) / union if union else 0.0


def _py_jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    s1_matches = [False] * len1
    s2_matches = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not s2_matches[j] and s2[j] == c:
                s1_matches[i] = True
                s2_matches[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    k = 0
    for i in range(len1):
        if s1_matches[i]:
            while not s2_matches[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions // 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


# Winkler's common-prefix scale (prefix capped at 4 characters), shared by
# the Python twin and the numpy batch kernel.
JW_PREFIX_WEIGHT = 0.1


def _py_jaro_winkler(x: str, y: str) -> float:
    if x == y:
        return 100.0  # includes both-blank => 100 (consistent with exact)
    jaro = _py_jaro(x, y)
    prefix = 0
    for a, b in zip(x[:4], y[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return 100.0 * (jaro + prefix * JW_PREFIX_WEIGHT * (1.0 - jaro))


# --------------------------------------------------------------------------
# numpy batch kernels (the fast path inside pandas UDFs)
# --------------------------------------------------------------------------


def _code_matrix(strs: np.ndarray, width: int) -> np.ndarray:
    """(n, width) uint32 code-point matrix, zero-padded. Positions past a
    string's length are garbage-guarded by the caller's length masks."""
    n = len(strs)
    if width == 0:
        return np.zeros((n, 1), dtype=np.uint32)
    u = np.array(strs, dtype=f"U{width}")
    return u.view(np.uint32).reshape(n, -1)[:, :width]


def _np_jaro_winkler_chunk(
    xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Vectorized Jaro-Winkler over one chunk of UNEQUAL string pairs.

    Mirrors ``_py_jaro``/``_py_jaro_winkler`` operation-for-operation
    (same greedy first-available match, same transposition count, same
    float64 expression order) so results are bit-identical to the Python
    twin — pinned by tests/test_scorers.py's differential sweep.

    Rows are grouped by match-window width ``w = max(l1,l2)//2 - 1``
    (contiguous runs after the caller's length sort; a stable argsort
    makes direct calls safe too) so each group runs the fixed-window core
    below — the window becomes a column SLICE instead of a per-iteration
    (n, L2) mask, dropping two of the six memory passes per character and
    shrinking the operated width to ``2w+1``. Grouping also tightens each
    group's code-matrix extents to its own max lengths.
    """
    n = len(xs)
    l1 = np.fromiter((len(s) for s in xs), dtype=np.int64, count=n)
    l2 = np.fromiter((len(s) for s in ys), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    w = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    order = np.argsort(w, kind="stable")  # no-op for length-sorted input
    ws = w[order]
    starts = np.flatnonzero(np.r_[True, ws[1:] != ws[:-1]])
    for s, e in zip(starts, np.r_[starts[1:], n]):
        idx = order[s:e]
        out[idx] = _np_jw_core(
            xs[idx], ys[idx], l1[idx], l2[idx], int(ws[s])
        )
    return out


def _np_jw_core(
    xs: np.ndarray,
    ys: np.ndarray,
    l1: np.ndarray,
    l2: np.ndarray,
    w: int,
) -> np.ndarray:
    """Fixed-window Jaro-Winkler core: every row shares window width ``w``,
    so the per-character candidate range is the column slice
    ``[i-w, i+w+1)`` — pure views, no window mask. Cost: O(n * L1 * (2w+1))
    boolean algebra, all inside numpy — no per-pair Python."""
    n = len(xs)
    L1 = int(l1.max(initial=0))
    L2 = int(l2.max(initial=0))
    out = np.zeros(n, dtype=np.float64)
    if L1 == 0 or L2 == 0:
        return out  # one side empty and pairs are unequal => jaro 0
    A = _code_matrix(xs, L1)
    B = _code_matrix(ys, L2)
    # fold the length masks into the code matrices: positions past each
    # string's end get distinct sentinels, so equality there is impossible
    # and the inner loop needs no validity terms
    A[np.arange(L1)[None, :] >= l1[:, None]] = 0xFFFFFFFE
    B[np.arange(L2)[None, :] >= l2[:, None]] = 0xFFFFFFFF
    am = np.zeros((n, L1), dtype=bool)
    avail = np.ones((n, L2), dtype=bool)  # ~matched-in-B, kept incrementally
    buf = np.empty((n, L2), dtype=bool)
    rn = np.arange(n)
    for i in range(L1):
        # first unmatched j in [i-w, i+w] with B[j]==A[i] (greedy, = twin).
        # Full-width contiguous ops (numpy's SIMD fast path needs them);
        # the fixed window is applied by zeroing the out-of-window column
        # stripes — O(n * (L2 - window)) writes, tiny for mid-string i —
        # instead of computing an (n, L2) window mask every iteration.
        lo = max(0, i - w)
        hi = min(L2, i + w + 1)
        if lo >= hi:
            continue  # window entirely past the B extent: no j possible
        np.equal(B, A[:, i : i + 1], out=buf)
        buf &= avail
        if lo:
            buf[:, :lo] = False
        if hi < L2:
            buf[:, hi:] = False
        j = buf.argmax(axis=1)
        rows = np.nonzero(buf[rn, j])[0]
        avail[rows, j[rows]] = False
        am[rows, i] = True
    bm = ~avail
    m = am.sum(axis=1)
    matched = m > 0
    # transpositions: compare the i-ordered matched chars of A with the
    # j-ordered matched chars of B (scatter each into rank position)
    maxm = int(m.max(initial=0))
    if maxm:
        SA = np.zeros((n, maxm), dtype=np.uint32)
        SB = np.zeros((n, maxm), dtype=np.uint32)
        ra = np.cumsum(am, axis=1) - 1
        rows, cols = np.nonzero(am)
        SA[rows, ra[rows, cols]] = A[rows, cols]
        rb = np.cumsum(bm, axis=1) - 1
        rows, cols = np.nonzero(bm)
        SB[rows, rb[rows, cols]] = B[rows, cols]
        valid = np.arange(maxm)[None, :] < m[:, None]
        t = ((SA != SB) & valid).sum(axis=1) // 2
    else:
        t = np.zeros(n, dtype=np.int64)
    ms = np.maximum(m, 1)  # guarded by `matched` below
    jaro = np.where(
        matched, (m / l1.clip(min=1) + m / l2.clip(min=1) + (m - t) / ms) / 3.0, 0.0
    )
    # common prefix (up to 4 chars, stops at first mismatch / min length)
    pref = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(min(4, L1, L2)):
        ok = alive & (i < l1) & (i < l2) & (A[:, i] == B[:, i])
        pref += ok
        alive = ok
    return 100.0 * (jaro + (pref * JW_PREFIX_WEIGHT) * (1.0 - jaro))


# Per-chunk cell budget for the O(n * L1 * L2) boolean work. 2^25 cells
# (~33 MB of bool temporaries) keeps the working set inside L3 while
# amortizing numpy call overhead.
_JW_CHUNK_CELLS = 1 << 25


def _np_jaro_winkler_batch(x: pd.Series, y: pd.Series) -> pd.Series:
    """Batched Jaro-Winkler: equal pairs short-circuit to 100; unequal
    pairs are shape-sorted and chunked through the vectorized kernel.

    Chunking bounds the kernel's TRUE cost, n * L1max * L2max (the code
    matrices are (n, Lmax) — a chunk pays its longest string for every
    row), not the sum of per-pair areas: JW is symmetric, so each pair is
    swapped to (shorter, longer) first, pairs are lex-sorted by
    (longer, shorter), and the chunk boundary is the largest extent whose
    n * max(shorter) * max(longer) fits the cell budget (binary search —
    the cost is monotone along the sort). This keeps transposed skewed
    shapes, e.g. (3, 30000) vs (30000, 3), from inflating a chunk to
    O(n * 30000^2), and a lone huge pair degrades to its own chunk.
    """
    xv = x.fillna("").astype(str).to_numpy(dtype=object)
    yv = y.fillna("").astype(str).to_numpy(dtype=object)
    n = len(xv)
    out = np.full(n, 100.0, dtype=np.float64)
    neq = np.nonzero(xv != yv)[0]
    if len(neq):
        l1 = np.fromiter((len(xv[i]) for i in neq), dtype=np.int64, count=len(neq))
        l2 = np.fromiter((len(yv[i]) for i in neq), dtype=np.int64, count=len(neq))
        swap = l1 > l2  # JW(x, y) == JW(y, x); kernel twin-parity is pinned
        xs = np.where(swap, yv[neq], xv[neq])
        ys = np.where(swap, xv[neq], yv[neq])
        lmin = np.minimum(l1, l2)
        lmax = np.maximum(l1, l2)
        order = np.lexsort((lmin, lmax))
        xs, ys = xs[order], ys[order]
        lmin, lmax = lmin[order].clip(min=1), lmax[order].clip(min=1)
        tgt = neq[order]
        m = len(tgt)
        start = 0
        while start < m:
            def _cost(e: int) -> int:
                return (e - start) * int(lmin[start:e].max()) * int(lmax[e - 1])

            lo, hi = start + 1, m
            while lo < hi:
                mid = (lo + hi + 1) // 2
                if _cost(mid) <= _JW_CHUNK_CELLS:
                    lo = mid
                else:
                    hi = mid - 1
            stop = lo
            out[tgt[start:stop]] = _np_jaro_winkler_chunk(
                xs[start:stop], ys[start:stop]
            )
            start = stop
    return pd.Series(out, dtype="float64")


# --------------------------------------------------------------------------
# Spark-side expressions
# --------------------------------------------------------------------------


def _expr_exact(x: Column, y: Column) -> Column:
    return F.when(x == y, F.lit(100.0)).otherwise(F.lit(0.0))


def _expr_levenshtein_ratio(x: Column, y: Column) -> Column:
    denom = F.greatest(F.length(x), F.length(y), F.lit(1)).cast("double")
    return 100.0 * (F.lit(1.0) - F.levenshtein(x, y).cast("double") / denom)


def _token_hashes_prep(s: Column) -> Column:
    """Distinct xxhash64 token hashes — the ``prep`` payload.

    Intersect/union cardinalities over 8-byte hashes equal those over the
    token strings except on a 64-bit collision (~2^-64 per token pair —
    negligible even at 10^12 rows, and the Jaccard RATIO only shifts by
    1/|union| if one ever occurs; consolidated risk register: README,
    "64-bit hash-equality risk register"). Shipping longs instead of strings cuts
    the candidate-join shuffle ~3x and replaces string comparisons with
    long compares in the hot intersect loop.

    Hash BEFORE distinct: ``array_distinct`` over primitive longs takes
    Spark's fast path (primitive equality, no per-element object
    comparisons), where distinct-then-hash paid the object path over the
    token strings — measured as the dominant cost of this expression on
    long texts. The resulting SET is identical (distinct-of-hashes ==
    hashes-of-distinct up to a 64-bit collision collapsing a duplicate),
    and first-occurrence order is preserved either way.

    Empty tokens (consecutive whitespace) are dropped AFTER hashing with
    one native ``array_remove(…, xxhash64(''))`` instead of a
    per-element ``filter`` lambda: higher-order functions interpret
    their lambda per element, so this keeps the expression at ONE lambda
    pass (the unavoidable per-token hash) — a real token whose hash
    collides with xxhash64('') would be dropped (~2^-64, the documented
    accepted risk class).
    """
    hashes = F.transform(
        F.split(F.trim(s), r"\s+"), lambda t: F.xxhash64(t)
    )
    return F.array_remove(
        F.array_distinct(hashes), F.xxhash64(F.lit(""))
    )


def _expr_token_set_jaccard(x: Column, y: Column) -> Column:
    return _pair_token_set_jaccard(_token_hashes_prep(x), _token_hashes_prep(y))


def _pair_token_set_jaccard(tx: Column, ty: Column) -> Column:
    """Jaccard over pre-tokenized arrays (the ``prep`` fast path: a record
    is tokenized once per side instead of once per candidate pair).

    The prep arrays are distinct by construction (``array_distinct`` in
    :func:`_token_hashes_prep`), so ``|tx ∪ ty| = |tx| + |ty| - |tx ∩ ty|`` —
    the union is pure arithmetic over sizes already at hand instead of a
    second per-pair hash-set pass (``array_union`` would rebuild and
    materialize the combined array just to take its length). This is the
    single hottest expression of the transcript pipeline (it runs once
    per candidate pair on whole-conversation token sets), so halving its
    allocation work matters at any scale. Values are bit-identical: same
    integer counts, same one double division."""
    inter = F.size(F.array_intersect(tx, ty))
    union = (F.size(tx) + F.size(ty) - inter).cast("double")
    return F.when(union == 0, F.lit(100.0)).otherwise(
        100.0 * inter.cast("double") / union
    )


def _make_pandas_scorer(batch_fn: Callable[[pd.Series, pd.Series], pd.Series]):
    """Wrap a batch scoring function as an Arrow-batched pandas UDF.

    ``batch_fn`` receives whole pd.Series (one Arrow batch) and must return
    a float64 Series — vectorize inside (numpy kernels), never per-row.
    """

    @F.pandas_udf(DoubleType())
    def _scorer(x: pd.Series, y: pd.Series) -> pd.Series:
        return batch_fn(x, y)

    # Semantically pure — the non-deterministic flag is an optimizer fence:
    # it stops Catalyst from duplicating the call into Filter operators
    # (predicate pushdown would otherwise evaluate the UDF twice per pair —
    # one ArrowEvalPython pass for the gate filter, one for the score).
    _scorer = _scorer.asNondeterministic()

    def expr(x: Column, y: Column) -> Column:
        return _scorer(x, y)

    return expr


@dataclass(frozen=True)
class Scorer:
    """A named scorer: Spark expression + pure-Python twin.

    ``expr`` takes two *normalized* string Columns (already
    ``blank_coalesce``-d) and returns a double Column in [0, 100].
    ``py`` is the oracle twin with byte-identical semantics.
    ``catalyst`` is True when the scorer is a pure Catalyst expression
    (stays inside whole-stage codegen — preferred in the hot path).

    ``prep``/``pair``: optional two-phase form for scorers with expensive
    per-value preprocessing — ``prep(col)`` runs ONCE PER RECORD on each
    side (e.g. tokenization), ``pair(px, py)`` runs per candidate pair over
    the prepped columns. Semantically identical to ``expr``; purely a
    work-motion optimization (a record in a block of size B would
    otherwise be re-preprocessed B times).

    ``upper_bound``: optional cheap Catalyst expression provably >= the
    scorer's result for the same inputs. Lets scoring pre-gate a
    cutoff-thresholded rule: when ``upper_bound < threshold`` the exact
    value cannot pass the gate, so the expensive scorer (pandas UDF)
    receives defused inputs instead and the contribution is an exact 0
    either way (operators/scoring._rule_score_expr). Soundness is the
    only contract — looser is safe, tighter is faster.

    ``bounded``: optional ``(x, y, threshold) -> Column`` returning the
    EXACT score whenever it is >= threshold and an exact 0.0 otherwise —
    the same contract the pre-gate already established (a cutoff rule
    cannot distinguish sub-threshold values from 0: the gate fails and
    the contribution is 0 either way). Lets a scorer use an
    early-abandoning kernel whose cost scales with the threshold (e.g.
    the banded Levenshtein DP) instead of the full computation. Used only
    under the pre-gate conditions (cutoff rule, pre-gating allowed), so
    ``keep_column_scores`` callers still see exact raw scores.
    """

    name: str
    expr: Callable[[Column, Column], Column]
    py: Callable[[str, str], float]
    catalyst: bool
    prep: Callable[[Column], Column] | None = None
    pair: Callable[[Column, Column], Column] | None = None
    upper_bound: Callable[[Column, Column], Column] | None = None
    bounded: Callable[[Column, Column, float], Column] | None = None


SCORERS: dict[str, Scorer] = {}


def register_scorer(
    name: str,
    expr: Callable[[Column, Column], Column],
    py: Callable[[str, str], float],
    catalyst: bool = False,
    prep: Callable[[Column], Column] | None = None,
    pair: Callable[[Column, Column], Column] | None = None,
    upper_bound: Callable[[Column, Column], Column] | None = None,
    bounded: Callable[[Column, Column, float], Column] | None = None,
) -> Scorer:
    """Register a scorer by name (pluggable registry, reference
    config.py:349-400 + tests/test_config.py:194-202)."""
    scorer = Scorer(name=name, expr=expr, py=py, catalyst=catalyst,
                    prep=prep, pair=pair, upper_bound=upper_bound,
                    bounded=bounded)
    SCORERS[name] = scorer
    return scorer


def _jw_upper_bound(x: Column, y: Column) -> Column:
    """Provable Jaro-Winkler ceiling from lengths alone.

    With l1 <= l2, matches m <= l1 and transpositions >= 0 give
    jaro <= (m/l1 + m/l2 + 1)/3 <= (2 + l1/l2)/3, and the Winkler boost
    (prefix <= 4, weight JW_PREFIX_WEIGHT = 0.1) gives jw <= jaro + 0.4*(1 - jaro)
    = 0.6*jaro + 0.4 <= 0.8 + 0.2*(l1/l2) — i.e. (80 + 20*ratio) on the
    0-100 scale. Equal strings short-circuit to 100 (matching the batch
    kernel). A pair of very different lengths therefore provably cannot
    clear a high cutoff threshold — e.g. ratio < 0.5 caps jw below 90.
    """
    l1, l2 = F.length(x), F.length(y)
    ratio = F.least(l1, l2).cast("double") / F.greatest(
        l1, l2, F.lit(1)
    ).cast("double")
    return F.when(x == y, F.lit(100.0)).otherwise(80.0 + 20.0 * ratio)


def _bounded_levenshtein_ratio(x: Column, y: Column, threshold: float) -> Column:
    """Banded Levenshtein: exact ratio when >= threshold, exact 0.0 below.

    ``ratio >= T  ⇔  distance <= floor(maxlen * (1 - T/100))`` (distance
    is integral), so the thresholded ``levenshtein(x, y, k)`` builtin —
    which computes only a band of 2k+1 diagonals and returns -1 as soon
    as the distance provably exceeds k — decides the gate with
    O(k * maxlen) work instead of the full O(L1 * L2) DP, and when the
    pair passes, the returned distance (<= k) is exact, so the ratio is
    bit-identical to the unbounded scorer. At threshold 50 the band is
    half the table; higher thresholds shrink it linearly. Only used under
    the pre-gate contract (see ``Scorer.bounded``)."""
    ml = F.greatest(F.length(x), F.length(y), F.lit(1))
    k = F.floor(
        ml.cast("double") * F.lit(1.0 - float(threshold) / 100.0)
    ).cast("int")
    d = F.call_function("levenshtein", x, y, k)
    return F.when(d < 0, F.lit(0.0)).otherwise(
        100.0 * (F.lit(1.0) - d.cast("double") / ml.cast("double"))
    )


def _lev_upper_bound(x: Column, y: Column) -> Column:
    """Provable levenshtein_ratio ceiling from lengths alone.

    ``levenshtein(x, y) >= |len(x) - len(y)|`` (every unmatched length
    unit costs at least one insert/delete), so
    ``ratio <= 100 * (1 - |l1-l2| / max(l1, l2, 1))``. Arms the same
    cutoff-rule pre-gate as the Jaro-Winkler bound: a pair whose length
    gap alone puts it under the rule threshold skips the O(L1*L2)
    levenshtein DP entirely (scoring._rule_score_expr)."""
    l1, l2 = F.length(x), F.length(y)
    gap = F.abs(l1 - l2).cast("double")
    return 100.0 * (
        F.lit(1.0) - gap / F.greatest(l1, l2, F.lit(1)).cast("double")
    )


def _exact_hash_prep(s: Column) -> Column:
    """``exact_match`` prep: ship the 8-byte xxhash64 of the normalized
    string instead of the string itself. Equality of the hashes equals
    equality of the strings except on a 64-bit collision (~2^-64 per
    compared pair — the same accepted-and-documented risk class as the
    fused blocking key, CC id encoding, and the uniqueness distinct
    count). Matters because exact-matched columns are often the LONGEST
    shuffled payloads (e.g. a 40-turn role sequence is ~400 bytes; its
    hash is 8): the candidate joins ship the hash, and the pair
    comparison is one long compare instead of a byte-wise string
    compare. Consolidated risk register: README, "64-bit hash-equality
    risk register"."""
    return F.xxhash64(s)


def _exact_hash_pair(px: Column, py: Column) -> Column:
    return F.when(px == py, F.lit(100.0)).otherwise(F.lit(0.0))


register_scorer("exact_match", _expr_exact, _py_exact, catalyst=True,
                prep=_exact_hash_prep, pair=_exact_hash_pair)
register_scorer(
    "levenshtein_ratio", _expr_levenshtein_ratio, _py_levenshtein_ratio,
    catalyst=True, upper_bound=_lev_upper_bound,
    bounded=_bounded_levenshtein_ratio,
)
register_scorer(
    "token_set_jaccard",
    _expr_token_set_jaccard,
    _py_token_set_jaccard,
    catalyst=True,
    prep=_token_hashes_prep,
    pair=_pair_token_set_jaccard,
)
register_scorer(
    "jaro_winkler",
    _make_pandas_scorer(_np_jaro_winkler_batch),
    _py_jaro_winkler,
    catalyst=False,
    upper_bound=_jw_upper_bound,
)
