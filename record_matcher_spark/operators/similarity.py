"""Approximate-nearest-neighbor similarity search over embedding columns.

Not in the reference (pure string matcher); required by the training-data
pipeline mandate. Two paths over ``array<float>`` vectors:

- ``cosine_topk``       brute-force exact top-k (baseline / verifier)
- ``srp_lsh_topk``      signed-random-projection LSH buckets + rerank
                        (the 100 TB path: candidates come from an
                        equi-join on integer bucket keys, so the cross
                        join never materializes)

FP parity with the DuckDB oracle: dot products accumulate in ascending
index order in BOTH engines (Spark ``aggregate`` over ``zip_with``;
DuckDB ``list_reduce`` over an index ``range``) and results are rounded
to 6 dp before comparison, so value hashes agree.

SRP hyperplane coefficients are deterministic (seeded) and embedded as
literals in the Spark plan and in the generated oracle SQL — the same
buckets fall out of both engines.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from record_matcher_spark.functions import texthash as TH


# Neighbours kept per query by every top-k operator here and its twin.
TOPK_K = 5
# Cosine bound of the embedding near-dup pair operators:
# ``srp_lsh_pairs`` (LSH + verify) and ``dedup.embedding_near_dup``
# (brute force) keep the same pairs above it.
NEAR_DUP_COSINE = 0.35


def dot_expr(a: Column, b: Column) -> Column:
    """Index-ascending sequential dot product (FP-order pinned)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, v) -> acc + v)"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact brute-force cosine top-``TOPK_K``: -> [q_id, n_id, cosine, rank].

    Plan: the (small) query side is broadcast; the corpus streams through
    one scan; per-query top-k is a window over (q_id) ordered by
    (cosine desc, n_id) — deterministic under ties. At scale the corpus
    side stays partition-parallel with no shuffle until the final top-k,
    which AQE handles as a skewless window over q_id.
    """
    nrm = lambda v: F.sqrt(dot_expr(v, v))  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        nrm(F.col(vec_col)).alias("qn"),
    ).where(F.col("qn") > 0)
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("cv"),
        nrm(F.col(vec_col)).alias("cn"),
    ).where(F.col("cn") > 0)
    cos = TH.q6_expr(dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_K)
    )


def cosine_topk_oracle_sql(
    corpus_table: str,
    queries_sql: str,
    id_col: str,
    vec_col: str,
) -> str:
    dot = dot_sql("q.qv", "c.cv")
    q6cos = TH.q6_sql(f"{dot} / (q.qn * c.cn)")
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS qv,
         sqrt({dot_sql(vec_col, vec_col)}) AS qn
  FROM ({queries_sql})
), c AS (
  SELECT {id_col} AS n_id, {vec_col} AS cv,
         sqrt({dot_sql(vec_col, vec_col)}) AS cn
  FROM {corpus_table}
)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT q.q_id, c.n_id,
         {q6cos} AS cosine,
         row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY {q6cos} DESC, c.n_id ASC
         ) AS rank
  FROM c, q
  WHERE q.qn > 0 AND c.cn > 0 AND q.q_id <> c.n_id
) WHERE rank <= {TOPK_K}
"""


def srp_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: bit i = sign(<v, plane_i>)."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def srp_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    terms = []
    for i, p in enumerate(planes):
        lits = "[" + ", ".join(repr(x) for x in p) + "]"
        d = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, len({vec}) + 1), "
            f"i -> CAST({vec}[i] AS DOUBLE) * ({lits})[i])), "
            "(acc, v) -> acc + v)"
        )
        terms.append(
            f"CASE WHEN {d} > 0 THEN CAST({1 << i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return "(" + " + ".join(terms) + ")"


# SRP-LSH shape shared by ``srp_lsh_topk``, ``srp_lsh_pairs`` and their
# DuckDB twins: SRP_TABLES hash tables of SRP_PLANES_PER_TABLE planes over
# SRP_DIM-dimensional vectors (the ``embeddings`` table's width).
SRP_TABLES = 8
SRP_PLANES_PER_TABLE = 3
SRP_DIM = 64
# (table, bucket) block cap of ``srp_lsh_pairs`` and its twin.
SRP_MAX_BUCKET = 400


def _table_planes() -> list[list[list[float]]]:
    """Per table, its seeded hyperplanes. 3-dp literals: short SQL;
    exactly representable comparisons are not needed (sign of a dot
    product only), but identical literals in both engines ARE."""
    rng = random.Random(0x51AE)
    return [
        [
            [round(rng.uniform(-1.0, 1.0), 3) for _ in range(SRP_DIM)]
            for _ in range(SRP_PLANES_PER_TABLE)
        ]
        for _ in range(SRP_TABLES)
    ]


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ANN top-``TOPK_K``: multi-table SRP-LSH candidates + exact cosine rerank
    -> [q_id, n_id, cosine, rank].

    ``SRP_TABLES`` independent hash tables of ``SRP_PLANES_PER_TABLE``
    planes each: a candidate collides with the query in >= 1 table. For
    neighbor angle θ, P(candidate) = 1 - (1 - (1-θ/π)^p)^L — a single wide
    table (p=8) has near-zero recall at θ ~ 60°, the 8x3 shape ~0.9.

    The cross join becomes an equi-join on (table, bucket) int keys: at
    100 TB the corpus is hash-partitioned by bucket, each bucket scans
    independently, and candidate dedup is one distinct. Approximate by
    construction — recall vs ``cosine_topk`` is asserted in tests, and the
    oracle replicates the SAME tables/buckets so the driver check is exact.
    """
    tables = _table_planes()
    nrm = lambda v: F.sqrt(dot_expr(v, v))  # noqa: E731

    def keyed(df: DataFrame, out_id: str) -> DataFrame:
        buckets = F.array(
            *[srp_bucket_expr(F.col(vec_col), planes) for planes in tables]
        )
        base = df.select(
            F.col(id_col).alias(out_id),
            nrm(F.col(vec_col)).alias("_n"),
            F.posexplode(buckets).alias("tbl", "bucket"),
        ).where(F.col("_n") > 0)
        return base.select(out_id, "tbl", "bucket")

    q = keyed(queries, "q_id")
    c = keyed(corpus, "n_id")
    cand = (
        c.join(F.broadcast(q), ["tbl", "bucket"])
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        nrm(F.col(vec_col)).alias("qn"),
    )
    cv = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("cv"),
        nrm(F.col(vec_col)).alias("cn"),
    )
    cos = TH.q6_expr(
        dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "n_id")
        .select("q_id", "n_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_K)
    )


def srp_lsh_topk_oracle_sql(
    corpus_table: str,
    queries_sql: str,
    id_col: str,
    vec_col: str,
) -> str:
    tables = _table_planes()
    nrm = f"sqrt({dot_sql(vec_col, vec_col)})"
    qk = "\n  UNION ALL\n  ".join(
        f"SELECT q_id, {t} AS tbl, {srp_bucket_sql('qv0', planes)} AS bucket "
        "FROM q0"
        for t, planes in enumerate(tables)
    )
    ck = "\n  UNION ALL\n  ".join(
        f"SELECT n_id, {t} AS tbl, {srp_bucket_sql('cv0', planes)} AS bucket "
        "FROM c0"
        for t, planes in enumerate(tables)
    )
    dot = dot_sql("qv.qv", "cv.cv")
    q6cos = TH.q6_sql(f"{dot} / (qv.qn * cv.cn)")
    return f"""
WITH q0 AS (
  SELECT {id_col} AS q_id, {vec_col} AS qv0, {nrm} AS qn0
  FROM ({queries_sql}) WHERE {nrm} > 0
), c0 AS (
  SELECT {id_col} AS n_id, {vec_col} AS cv0, {nrm} AS cn0
  FROM {corpus_table} WHERE {nrm} > 0
), qk AS (
  {qk}
), ck AS (
  {ck}
), cand AS (
  SELECT DISTINCT qk.q_id, ck.n_id
  FROM ck JOIN qk ON ck.tbl = qk.tbl AND ck.bucket = qk.bucket
  WHERE qk.q_id <> ck.n_id
), qv AS (SELECT q_id, qv0 AS qv, qn0 AS qn FROM q0),
cv AS (SELECT n_id, cv0 AS cv, cn0 AS cn FROM c0)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT cand.q_id, cand.n_id,
         {q6cos} AS cosine,
         row_number() OVER (
           PARTITION BY cand.q_id
           ORDER BY {q6cos} DESC, cand.n_id ASC
         ) AS rank
  FROM cand JOIN qv ON qv.q_id = cand.q_id
            JOIN cv ON cv.n_id = cand.n_id
) WHERE rank <= {TOPK_K}
"""


def srp_lsh_pairs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Near-duplicate pairs by SRP-LSH buckets + exact cosine verify
    -> [id_a, id_b, cosine] with cosine >= ``NEAR_DUP_COSINE`` and
    id_a < id_b.

    The scale path for ``dedup.embedding_near_dup`` (the brute-force
    cross join baseline): candidates come from a self
    equi-join on (table, bucket) integer keys, so the n^2 product never
    materializes — at 100 TB the corpus hash-partitions by bucket and
    each bucket compares independently. ``SRP_TABLES`` independent hash
    tables give recall 1-(1-(1-θ/π)^p)^L for neighbor angle θ (the 8x3
    shape ~0.99 at cosine 0.95); candidate dedup across tables is one
    distinct on (id_a, id_b).

    ``SRP_MAX_BUCKET`` drops over-populated (table, bucket) blocks
    (hub/degenerate vectors) the way blocking.candidate_pairs caps hot
    blocks: pairs lost in a dropped bucket can still surface through the
    other L-1 tables, so the cap bounds fan-out with a graceful recall
    cost rather than a quadratic blow-up. Approximate by construction;
    recall vs the exact pair set is asserted in tests, and the generated
    oracle replicates the same planes/buckets/cap so the driver check is
    exact.
    """
    tables = _table_planes()
    nrm = F.sqrt(dot_expr(F.col(vec_col), F.col(vec_col)))
    buckets = F.array(
        *[srp_bucket_expr(F.col(vec_col), planes) for planes in tables]
    )
    keyed = (
        df.select(
            F.col(id_col).alias("id"),
            nrm.alias("_n"),
            F.posexplode(buckets).alias("tbl", "bucket"),
        )
        .where(F.col("_n") > 0)
        .select("id", "tbl", "bucket")
    )
    over = (
        keyed.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > SRP_MAX_BUCKET)
        .select("tbl", "bucket")
    )
    keyed = keyed.join(over, ["tbl", "bucket"], "left_anti")
    a = keyed.select(F.col("id").alias("id_a"), "tbl", "bucket")
    b = keyed.select(F.col("id").alias("id_b"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        nrm.alias("na"),
    ).where(F.col("na") > 0)
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        nrm.alias("nb"),
    ).where(F.col("nb") > 0)
    cos = TH.q6_expr(
        dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= NEAR_DUP_COSINE)
    )


def srp_lsh_pairs_oracle_sql(table: str, id_col: str, vec_col: str) -> str:
    """DuckDB twin of ``srp_lsh_pairs`` — same planes, buckets, cap."""
    tables = _table_planes()
    nrm = f"sqrt({dot_sql(vec_col, vec_col)})"
    keyed = "\n  UNION ALL\n  ".join(
        f"SELECT id, {t} AS tbl, {srp_bucket_sql('v0', planes)} AS bucket "
        "FROM base"
        for t, planes in enumerate(tables)
    )
    dot = dot_sql("va.v0", "vb.v0")
    q6cos = TH.q6_sql(f"{dot} / (va.n0 * vb.n0)")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {vec_col} AS v0, {nrm} AS n0
  FROM {table} WHERE {nrm} > 0
), keyed0 AS (
  {keyed}
), keyed AS (
  SELECT k.* FROM keyed0 k
  JOIN (SELECT tbl, bucket, count(*) AS _c
        FROM keyed0 GROUP BY tbl, bucket) s
    ON k.tbl = s.tbl AND k.bucket = s.bucket
  WHERE s._c <= {SRP_MAX_BUCKET}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keyed a JOIN keyed b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
)
SELECT cand.id_a, cand.id_b, {q6cos} AS cosine
FROM cand JOIN base va ON va.id = cand.id_a
          JOIN base vb ON vb.id = cand.id_b
WHERE {q6cos} >= {NEAR_DUP_COSINE}
"""


def _seq_norm(vec: list[float]) -> float:
    """Index-ascending fold + sqrt — the Python twin of
    ``sqrt(dot_expr(v, v))`` / ``sqrt(dot_sql(v, v))`` (same IEEE op
    order, so the literal norm matches both engines bit for bit)."""
    import math

    s = 0.0
    for x in vec:
        s += float(x) * float(x)
    return math.sqrt(s)


def ivf_seed_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[tuple]:
    """Deterministic seed centroids: the ``n_centroids`` nonzero-norm
    corpus vectors with the smallest ids -> [(cent_id, vec, norm), ...]
    ordered by cent_id. One tiny collect (n_centroids rows)."""
    nrm = F.sqrt(dot_expr(F.col(vec_col), F.col(vec_col)))
    rows = (
        corpus.select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cv")
        )
        .where(nrm > 0)
        .orderBy("cent_id")
        .limit(n_centroids)
        .collect()
    )
    return [
        (r["cent_id"], [float(x) for x in r["cv"]], _seq_norm(r["cv"]))
        for r in rows
    ]


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[tuple],
    out_id: str = "n_id",
    n_probe: int = 1,
) -> DataFrame:
    """Map-side inverted-list assignment -> [out_id, cent_id].

    The centroid set (tiny) is embedded as plan literals, so assignment
    is a pure projection over the input scan: per row an ``array_max``
    (n_probe=1) or ``sort_array`` + ``slice`` + ``explode`` (n_probe>1)
    over n_centroids (sim, -index, cent_id) structs — NO shuffle, NO
    window, NO join between the scan and the list key
    (tests/test_plans.py pins the Exchange-free shape). Ties break by
    centroid position ascending == cent_id ascending (``cents`` is
    ordered by cent_id).
    """
    base = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias("_v"),
        F.sqrt(dot_expr(F.col(vec_col), F.col(vec_col))).alias("_n"),
    ).where(F.col("_n") > 0)
    structs = []
    for idx, (cid, vec, nrm) in enumerate(cents):
        lit_vec = F.array(*[F.lit(float(x)) for x in vec])
        sim = TH.q6_expr(
            dot_expr(F.col("_v"), lit_vec) / (F.col("_n") * F.lit(float(nrm)))
        )
        structs.append(
            F.struct(
                sim.alias("s"),
                F.lit(-idx).alias("ni"),
                F.lit(cid).alias("cent_id"),
            )
        )
    arr = F.array(*structs)
    if n_probe == 1:
        return base.select(
            out_id, F.array_max(arr)["cent_id"].alias("cent_id")
        )
    top = F.slice(F.sort_array(arr, asc=False), 1, n_probe)
    return base.select(out_id, F.explode(top).alias("_t")).select(
        out_id, F.col("_t")["cent_id"].alias("cent_id")
    )


# IVF shape shared by ``ivf_topk`` and its twin: seed IVF_CENTROIDS
# lists, refine them with IVF_TRAIN_ITERS k-means steps (two, so the
# driver row pins the iterative loop cross-engine, not one step), and
# probe IVF_PROBE lists per query.
IVF_CENTROIDS = 16
IVF_PROBE = 4
IVF_TRAIN_ITERS = 2

# Fixed-point scale for k-means coordinate sums: each coordinate is
# quantized to 1e-6 BEFORE summing, making the per-list sum an exact
# int64 — order-independent (so both engines agree bit-for-bit with no
# fold-order pinning) and partial-mergeable (constant aggregation state).
IVF_COORD_SCALE = 1_000_000


def _ivf_sum_agg(joined: DataFrame, dim: int) -> DataFrame:
    """Per-list k-means statistics with CONSTANT aggregation state.

    One hash aggregate per training step over ``[cent_id, _v]`` rows:
    ``dim`` fixed-point int64 coordinate sums plus a count — O(dim) longs
    of state per centroid key, fully partial-mergeable (map-side combine),
    pinned as a plan test (tests/test_plans.py). The previous formulation
    (``collect_list`` of every member vector, folded in pinned id order)
    buffered an entire inverted list in ONE aggregation buffer — O(list)
    state, ~1/n_centroids of the corpus per reducer, an OOM long before
    100 TB. Exact integer sums are order-independent, which is the very
    property the pinned fold order was buying, at constant cost instead.

    Overflow bound: |coord| <= C gives |sum| <= rows_per_list * C * 1e6;
    with unit-scale embeddings (C <= 1) a single list holds ~9.2e12
    vectors before int64 overflow — beyond the 100 TB design point (and
    a 10^13-vector corpus would raise n_centroids far above 16 anyway).
    """
    sums = [
        F.sum(
            F.round(
                F.col("_v")[j].cast("double") * IVF_COORD_SCALE
            ).cast("long")
        ).alias(f"_s{j}")
        for j in range(dim)
    ]
    return joined.groupBy("cent_id").agg(
        *sums, F.count(F.lit(1)).alias("cnt")
    )


def ivf_train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    cents: list[tuple],
) -> list[tuple]:
    """``IVF_TRAIN_ITERS`` deterministic k-means (Lloyd) steps from ``cents``.

    Each step: map-side argmax assignment against the current literal
    centroids (no shuffle), then ONE n_centroids-key hash aggregate of
    fixed-point int64 coordinate sums (``_ivf_sum_agg`` — constant
    per-key state, order-independent, map-side combinable), mean = q6 of
    (sum / 1e6) / count per coordinate, identical FP ops in the DuckDB
    twin so the oracle derives bit-identical centroids; a centroid whose
    list is empty is kept unchanged. Per step the driver collects
    n_centroids rows (tiny). At 100 TB each step is genuinely one corpus
    scan + a 16-key partial aggregate — the standard IVF training shape.
    """
    dim = len(cents[0][1])
    base = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("_v"),
        F.sqrt(dot_expr(F.col(vec_col), F.col(vec_col))).alias("_n"),
    ).where(F.col("_n") > 0)
    for _ in range(IVF_TRAIN_ITERS):
        asg = ivf_assign(corpus, id_col, vec_col, cents, out_id="n_id")
        joined = asg.join(base.select("n_id", "_v"), "n_id")
        agg = _ivf_sum_agg(joined, dim)
        mean = F.array(
            *[
                TH.q6_expr(
                    (
                        F.col(f"_s{j}").cast("double")
                        / F.lit(float(IVF_COORD_SCALE))
                    )
                    / F.col("cnt")
                )
                for j in range(dim)
            ]
        )
        got = {
            r["cent_id"]: [float(x) for x in r["mv"]]
            for r in agg.select("cent_id", mean.alias("mv")).collect()
        }
        cents = [
            (cid, got[cid], _seq_norm(got[cid]))
            if cid in got
            else (cid, vec, nrm)
            for (cid, vec, nrm) in cents
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVF (inverted-file) ANN top-``TOPK_K`` -> [q_id, n_id, cosine, rank].

    The coarse-quantizer scale path: every corpus vector is assigned to
    its nearest centroid once (the inverted lists), and a query scans
    only its ``IVF_PROBE`` nearest lists — expected work per query is
    IVF_PROBE/IVF_CENTROIDS of the corpus instead of all of it.

    Centroids: deterministic smallest-id seeds refined by
    ``IVF_TRAIN_ITERS`` k-means steps (``ivf_train_centroids``; FP order
    pinned so the DuckDB oracle derives bit-identical centroids and the
    driver check stays exact). The trained set is embedded as plan
    LITERALS, so list assignment is one genuinely map-side projection
    over the corpus scan
    (``ivf_assign``: per-row ``array_max`` over (sim, -idx, cent_id)
    structs — no shuffle, no window; the same shape language_id uses,
    operators/text.py). Probing joins the small probe side broadcast, so
    candidate generation adds no corpus shuffle either.

    Ties break deterministically everywhere: centroid choice by
    (cosine desc, centroid id asc), final top-k by (cosine desc, n_id
    asc). Zero-norm vectors are excluded on both sides, as in
    ``cosine_topk``.
    """
    nrm = lambda v: F.sqrt(dot_expr(v, v))  # noqa: E731

    cents = ivf_seed_centroids(corpus, id_col, vec_col, IVF_CENTROIDS)
    cents = ivf_train_centroids(corpus, id_col, vec_col, cents)

    lists = ivf_assign(corpus, id_col, vec_col, cents, out_id="n_id")
    probes = ivf_assign(
        queries, id_col, vec_col, cents, out_id="q_id", n_probe=IVF_PROBE
    )
    cand = lists.join(F.broadcast(probes), "cent_id").where(
        F.col("q_id") != F.col("n_id")
    ).select("q_id", "n_id")
    qv = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("qv"),
        nrm(F.col(vec_col)).alias("qn"),
    ).where(F.col("qn") > 0)
    cv = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("cv"),
        nrm(F.col(vec_col)).alias("cn"),
    ).where(F.col("cn") > 0)
    cos = TH.q6_expr(
        dot_expr(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("n_id"))
    return (
        cand.join(F.broadcast(qv), "q_id")
        .join(cv, "n_id")
        .select("q_id", "n_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_K)
    )


def ivf_topk_oracle_sql(
    corpus_table: str,
    queries_sql: str,
    id_col: str,
    vec_col: str,
) -> str:
    """DuckDB twin of ``ivf_topk`` — derives the SAME seed + k-means
    trained centroids (fixed-point int64 coordinate sums, exact integer
    arithmetic so no fold-order pinning needed; q6 of (sum/1e6)/count per
    coordinate — the identical FP op sequence as ``ivf_train_centroids``),
    lists and probes, so the driver check is exact."""
    nrm = f"sqrt({dot_sql(vec_col, vec_col)})"

    def assign_sim(cents: str) -> str:
        return TH.q6_sql(f"{dot_sql('b._v', 'c.cv')} / (b._n * c.cn)")

    # Iterative centroid refinement: asg{i} (argmax lists), mean{i}
    # (per-list fixed-point integer coordinate sums — order-independent,
    # matching _ivf_sum_agg), cents{i+1}.
    coord_mean = TH.q6_sql(
        "(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(m.vs, v -> CAST(round(CAST(v[j] AS DOUBLE) "
        f"* {IVF_COORD_SCALE}) AS BIGINT))), "
        f"(a, b) -> a + b) AS DOUBLE) / {float(IVF_COORD_SCALE)}) / m.cnt"
    )
    train_ctes = []
    for i in range(IVF_TRAIN_ITERS):
        cur = f"cents{i}"
        train_ctes.append(f"""asg{i} AS (
  SELECT n_id, cent_id FROM (
    SELECT b.n_id, c.cent_id,
      row_number() OVER (PARTITION BY b.n_id
        ORDER BY {assign_sim(cur)} DESC, c.cent_id ASC) AS _r
    FROM cbase b, {cur} c
  ) WHERE _r = 1
), mean{i} AS (
  SELECT a.cent_id, count(*) AS cnt, list(b._v) AS vs
  FROM asg{i} a JOIN cbase b USING (n_id) GROUP BY a.cent_id
), craw{i + 1} AS (
  SELECT s.cent_id,
    CASE WHEN m.cnt IS NULL THEN s.cv
      ELSE list_transform(range(1, len(s.cv) + 1), j -> {coord_mean})
    END AS cv
  FROM cents{i} s LEFT JOIN mean{i} m USING (cent_id)
), cents{i + 1} AS (
  SELECT cent_id, cv, sqrt({dot_sql('cv', 'cv')}) AS cn FROM craw{i + 1}
)""")
    train_sql = ", " + ", ".join(train_ctes)
    final = f"cents{IVF_TRAIN_ITERS}"
    sim = assign_sim(final)
    dot = dot_sql("qv.qv", "cv.cv")
    q6cos = TH.q6_sql(f"{dot} / (qv.qn * cv.cn)")
    return f"""
WITH cents0 AS (
  SELECT {id_col} AS cent_id,
         list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cv,
         {nrm} AS cn
  FROM {corpus_table} WHERE {nrm} > 0
  ORDER BY cent_id LIMIT {IVF_CENTROIDS}
), cbase AS (
  SELECT {id_col} AS n_id, {vec_col} AS _v, {nrm} AS _n
  FROM {corpus_table} WHERE {nrm} > 0
), qbase AS (
  SELECT {id_col} AS q_id, {vec_col} AS _v, {nrm} AS _n
  FROM ({queries_sql}) WHERE {nrm} > 0
){train_sql}, lists AS (
  SELECT n_id, cent_id FROM (
    SELECT b.n_id, c.cent_id,
      row_number() OVER (PARTITION BY b.n_id
        ORDER BY {sim} DESC, c.cent_id ASC) AS _r
    FROM cbase b, {final} c
  ) WHERE _r = 1
), probes AS (
  SELECT q_id, cent_id FROM (
    SELECT b.q_id, c.cent_id,
      row_number() OVER (PARTITION BY b.q_id
        ORDER BY {sim} DESC, c.cent_id ASC) AS _r
    FROM qbase b, {final} c
  ) WHERE _r <= {IVF_PROBE}
), cand AS (
  SELECT p.q_id, l.n_id FROM probes p JOIN lists l USING (cent_id)
  WHERE p.q_id <> l.n_id
), qv AS (SELECT q_id, _v AS qv, _n AS qn FROM qbase),
cv AS (SELECT n_id, _v AS cv, _n AS cn FROM cbase)
SELECT q_id, n_id, cosine, rank FROM (
  SELECT cand.q_id, cand.n_id, {q6cos} AS cosine,
    row_number() OVER (PARTITION BY cand.q_id
      ORDER BY {q6cos} DESC, cand.n_id ASC) AS rank
  FROM cand JOIN qv ON qv.q_id = cand.q_id
            JOIN cv ON cv.n_id = cand.n_id
) WHERE rank <= {TOPK_K}
"""
