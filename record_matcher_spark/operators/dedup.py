"""Large-scale deduplication operators for training-data pipelines.

Beyond the reference's single-column duplicate finder
(/root/reference/record_matcher/records.py:135-153), a web-scale corpus
pipeline needs near-duplicate detection. Four operators, all
DataFrame-native:

- ``minhash_lsh_pairs``     word-shingle MinHash -> banded LSH -> verify
- ``simhash_pairs``         frequency-weighted SimHash, hamming <= d
- ``ngram_jaccard_pairs``   character n-gram Jaccard over blocked pairs
- ``embedding_near_dup``    cosine near-duplicates over vector columns

Scale design: every operator is candidate-generation-by-equi-join (the
same blocked-join shape as operators/blocking.py — shuffle on small
integer keys, AQE skew handling) followed by a verify step over candidate
pairs only; nothing is O(n^2) except the *oracle* SQL used by tests.
Hashing uses functions/texthash.py so the DuckDB oracle reproduces every
hash exactly (see that module's docstring).

SimHash pair-search exactness: a 60-bit banded signature (4 disjoint
15-bit bands, texthash.simhash60 — the 31-bit poly token hash is re-hashed
per band so every band carries real entropy); hamming(a, b) <= 3 implies
at least one equal band (pigeonhole), so band-join candidates + hamming
filter find EXACTLY the pairs an all-pairs scan would — the oracle uses
the O(n^2) formulation, results must agree. Everything stays a positive
int64, so Spark and DuckDB shift/mask agree without sign-extension
differences. 2^15 keys per band keep band-block sizes ~n/32768 at corpus
scale (the previous 8-bit byte bands gave only 256 keys per band =>
O(n^2/256) candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.functions import texthash as TH
from record_matcher_spark.operators.similarity import NEAR_DUP_COSINE, dot_expr


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

# Word-shingle length, signature width, LSH banding and verify threshold
# shared by ``minhash_lsh_pairs`` and its DuckDB twin: 16 hashes in 4
# bands of 4, pairs kept at exact shingle Jaccard >= 0.3.
MINHASH_SHINGLE_K = 3
MINHASH_HASHES = 16
MINHASH_BANDS = 4
MINHASH_THRESHOLD = 0.3


def _shingled(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """[_id, _sh] word-shingle hashes; empty-token docs excluded (blanks
    never pair, mirroring blocking.py)."""
    th = TH.token_hashes_expr(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), th.alias("_th")).where(
        F.size("_th") > 0
    )
    return base.select(
        "_id",
        TH.shingle_hashes_expr(F.col("_th"), MINHASH_SHINGLE_K).alias("_sh"),
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH + exact-Jaccard verify.

    -> [id_a, id_b, jaccard] with id_a < id_b, jaccard = exact word-shingle
    Jaccard >= ``MINHASH_THRESHOLD``, restricted to pairs colliding in
    >= 1 band.

    Plan shape: signatures (1 narrow scan) -> explode bands (xB) ->
    self equi-join on (band, key) int keys -> distinct pairs -> verify join
    back to shingle sets. Collision prob for Jaccard s is
    1 - (1 - s^r)^b, b = MINHASH_BANDS, r = MINHASH_HASHES / b.
    """
    r = MINHASH_HASHES // MINHASH_BANDS
    base = _shingled(df, id_col, text_col)
    sig = base.select(
        "_id", "_sh", *TH.minhash_sig_exprs(F.col("_sh"), MINHASH_HASHES)
    )
    band_keys = F.array(
        *[
            TH.band_key_expr([F.col(f"mh{i}") for i in range(b * r, (b + 1) * r)])
            for b in range(MINHASH_BANDS)
        ]
    )
    keyed = sig.select(
        "_id", F.posexplode(band_keys).alias("_band", "_key")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    cand = (
        a.join(b, ["_band", "_key"])
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    sh_sets = base.select("_id", F.array_distinct("_sh").alias("_set"))
    sa = sh_sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("_sa"))
    sb = sh_sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    union = F.size(F.array_union("_sa", "_sb")).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", TH.q6_expr(inter / union).alias("jaccard"))
        .where(F.col("jaccard") >= MINHASH_THRESHOLD)
    )


def minhash_lsh_pairs_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of ``minhash_lsh_pairs`` — same hashes, same bands."""
    r = MINHASH_HASHES // MINHASH_BANDS
    th = TH.token_hashes_sql(text_col)
    sh = TH.shingle_hashes_sql("th", MINHASH_SHINGLE_K)
    sigs = TH.minhash_sig_sqls("sh", MINHASH_HASHES)
    sig_cols = ", ".join(f"{s} AS mh{i}" for i, s in enumerate(sigs))
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT id, {b} AS band, {k} AS key FROM sig".format(
            b=b, k=TH.band_key_sql([f"mh{i}" for i in range(b * r, (b + 1) * r)])
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH th AS (
  SELECT {id_col} AS id, {th} AS th FROM {table}
), sh AS (
  SELECT id, {sh} AS sh FROM th WHERE len(th) > 0
), shn AS (
  SELECT id, list_distinct(sh) AS shset FROM sh
), sig AS (
  SELECT id, {sig_cols} FROM sh
), keyed AS (
  {band_selects}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
  WHERE a.id < b.id
)
SELECT id_a, id_b,
  (floor((CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.shset, sb.shset)))) * 1e6 + 0.5) / 1e6) AS jaccard
FROM cand
JOIN shn sa ON sa.id = cand.id_a
JOIN shn sb ON sb.id = cand.id_b
WHERE (floor((CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
      / len(list_distinct(list_concat(sa.shset, sb.shset)))) * 1e6 + 0.5) / 1e6) >= {MINHASH_THRESHOLD}
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


# 4 disjoint 15-bit bands of the 60-bit banded signature (texthash):
# (shift, mask). 2^15 keys per band keep band blocks ~n/32768.
# SIMHASH_MAX_HAMMING is the pair bound shared by ``simhash_pairs`` and
# its twin; 4 bands make the band join exact for any bound <= 3.
SIMHASH_MAX_HAMMING = 3
_SIMHASH_BANDS = tuple(
    (TH.SIMHASH_BAND_BITS * k, (1 << TH.SIMHASH_BAND_BITS) - 1)
    for k in range(TH.SIMHASH_NBANDS)
)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """[id, simhash] — frequency-weighted 60-bit banded SimHash of the
    token stream (texthash.simhash60: the 31-bit poly token hash is
    re-hashed per band so every band carries real entropy)."""
    th = TH.token_hashes_expr(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), th.alias("_th")).where(
        F.size("_th") > 0
    )
    return base.select("id", TH.simhash60_expr(F.col("_th")).alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Near-duplicate pairs with hamming(simhash) <= ``SIMHASH_MAX_HAMMING``.

    Exact under banding: 4 disjoint 15-bit bands of the 60-bit signature;
    <= 3 differing bits cannot touch all 4 bands, so candidates from the
    band join are a superset of all qualifying pairs -> the hamming filter
    makes the result EQUAL to the O(n^2) scan the oracle runs. 2^15 keys
    per band keep band blocks ~n/32768 (scale-safe candidate counts; the
    previous 8-bit byte bands forced blocks of ~n/256).
    """
    sig = simhash_signatures(df, id_col, text_col)
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit(mask))
            for off, mask in _SIMHASH_BANDS
        ]
    )
    keyed = sig.select(
        "id", "simhash", F.posexplode(bands).alias("band", "key")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def simhash_pairs_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    th = TH.token_hashes_sql(text_col)
    sim = TH.simhash60_sql("th")
    return f"""
WITH th AS (
  SELECT {id_col} AS id, {th} AS th FROM {table}
), sig AS (
  SELECT id, {sim} AS simhash FROM th WHERE len(th) > 0
)
SELECT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# character n-gram Jaccard
# --------------------------------------------------------------------------

# Character n-gram length, verify threshold, block column and block cap
# shared by ``ngram_jaccard_pairs`` and its twin.
NGRAM_N = 3
NGRAM_THRESHOLD = 0.55
NGRAM_BLOCK_COL = "lang"
NGRAM_MAX_BLOCK = 200


def _char_ngrams_expr(text):
    """Distinct character n-gram poly-hashes of lowercase trimmed text."""
    n = NGRAM_N
    codes = F.transform(
        F.split(F.trim(F.lower(text)), ""), lambda c: F.ascii(c).cast("long")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size(codes) - n),
        lambda j: TH.poly_hash_expr(F.slice(codes, j + 1, n)),
    )
    return F.when(
        F.size(codes) >= n, F.array_distinct(grams)
    ).otherwise(F.array().cast("array<bigint>"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Char n-gram Jaccard >= ``NGRAM_THRESHOLD`` over blocked pairs.

    Candidate semantics (replicated exactly by the oracle): two docs pair
    iff (a) their ``NGRAM_BLOCK_COL`` values are equal, AND (b) their
    length buckets ``floor(log2(trimmed_len))`` differ by at most 1 (the
    slop is realized by exploding one side to buckets {b-1, b, b+1}), AND
    (c) neither doc sits in a (block, bucket) group larger than
    ``NGRAM_MAX_BLOCK`` (over-cap groups are dropped from BOTH sides —
    a pathological group of B rows would otherwise cost B^2 pairs, so one
    hot (block, bucket) cell can never go quadratic in the corpus).

    The bucket constraint is a deliberate recall bound, not a free
    optimization: n-gram Jaccard is over DISTINCT grams, so a highly
    repetitive long doc can in principle clear the threshold against a
    short one yet differ in length by >2x — such pairs are out of scope by
    design (documented blocking recall, same contract as
    operators/blocking.py). The bucket is computed as
    ``length(bin(len)) - 1`` — pure integer/string ops, bit-identical in
    Spark and DuckDB (float log2 is not).

    Each qualifying pair is produced exactly once (the un-exploded side
    keeps a single bucket), so no distinct is needed — one shuffle join,
    no pair-level dedup shuffle.
    """
    bucket = (
        F.length(
            F.bin(F.greatest(F.length(F.trim(F.col(text_col))), F.lit(1)))
        )
        - 1
    ).cast("long")
    grams = df.select(
        F.col(id_col).alias("id"),
        _char_ngrams_expr(F.col(text_col)).alias("g"),
        F.col(NGRAM_BLOCK_COL).cast("string").alias("blk"),
        bucket.alias("bkt"),
    ).where(F.size("g") > 0)
    over = (
        grams.groupBy("blk", "bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > NGRAM_MAX_BLOCK)
        .select("blk", "bkt")
    )
    grams = grams.join(over, ["blk", "bkt"], "left_anti")
    a = grams.select(
        F.col("id").alias("id_a"),
        F.col("g").alias("ga"),
        "blk",
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("bkt"),
    )
    b = grams.select(
        F.col("id").alias("id_b"), F.col("g").alias("gb"), "blk", "bkt"
    )
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    union = F.size(F.array_union("ga", "gb")).cast("double")
    return (
        a.join(b, ["blk", "bkt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", TH.q6_expr(inter / union).alias("jaccard")
        )
        .where(F.col("jaccard") >= NGRAM_THRESHOLD)
    )


def ngram_jaccard_pairs_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of ``ngram_jaccard_pairs`` — same block/bucket/cap."""
    n = NGRAM_N
    codes = (
        f"list_transform(regexp_split_to_array(trim(lower({text_col})), ''), "
        "c -> CAST(ord(c) AS BIGINT))"
    )
    gram = TH.poly_hash_sql(f"codes[j:j+{n}-1]")
    blk = f"CAST({NGRAM_BLOCK_COL} AS VARCHAR)"
    bucket = (
        f"CAST(length(bin(greatest(length(trim({text_col})), 1))) - 1 AS BIGINT)"
    )
    return f"""
WITH c AS (
  SELECT {id_col} AS id, {codes} AS codes, {blk} AS blk, {bucket} AS bkt
  FROM {table}
), g AS (
  SELECT id, blk, bkt,
    CASE WHEN len(codes) >= {n}
      THEN list_distinct(list_transform(range(1, len(codes) - {n} + 2),
                                        j -> {gram}))
      ELSE [] END AS g
  FROM c
), gn AS (SELECT * FROM g WHERE len(g) > 0), capped AS (
  SELECT gn.* FROM gn
  JOIN (SELECT blk, bkt, count(*) AS _n FROM gn GROUP BY blk, bkt) s
    ON gn.blk = s.blk AND gn.bkt = s.bkt
  WHERE s._n <= {NGRAM_MAX_BLOCK}
)
SELECT a.id AS id_a, b.id AS id_b,
  (floor((CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      / len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 0.5) / 1e6) AS jaccard
FROM capped a JOIN capped b
  ON a.blk = b.blk AND abs(a.bkt - b.bkt) <= 1 AND a.id < b.id
WHERE (floor((CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      / len(list_distinct(list_concat(a.g, b.g)))) * 1e6 + 0.5) / 1e6) >= {NGRAM_THRESHOLD}
"""


# --------------------------------------------------------------------------
# embedding cosine near-dup
# --------------------------------------------------------------------------


def embedding_near_dup(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Pairs with cosine >= ``similarity.NEAR_DUP_COSINE`` by brute-force
    cross join — the small-scale baseline; the scale path is
    similarity.srp_lsh_pairs, which keeps pairs at the same bound."""
    norm = F.sqrt(dot_expr(F.col(vec_col), F.col(vec_col)))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
    ).where(F.col("nrm") > 0)
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", TH.q6_expr(cos).alias("cosine"))
        .where(F.col("cosine") >= NEAR_DUP_COSINE)
    )


# --------------------------------------------------------------------------
# near-dup pairs -> dedup clusters (canonical-doc selection)
# --------------------------------------------------------------------------


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
) -> DataFrame:
    """Fold a near-duplicate pair set ``[id_a, id_b, ...]`` (the output of
    every pair operator here) into dedup clusters:
    -> [id, cluster_id, is_canonical] — one row per input document.

    ``cluster_id`` is the minimum document id of the pair-graph connected
    component (the same large-star/small-star CC the ER pipeline uses, so
    lineage per iteration is O(1) and node ids stay JVM-side longs);
    documents in no pair are singleton clusters of themselves. The
    canonical representative of each cluster is its minimum id
    (``is_canonical`` = 1) — ``WHERE is_canonical = 1`` is the keep-list
    of a dedup pass, and the non-canonical rows are the drop-list.

    Scale shape: the only per-document work is one left join attaching
    labels (singletons never enter the CC shuffle); the CC itself runs on
    the pair set, which blocking/LSH already bounded.
    """
    from record_matcher_spark.operators.cluster import connected_components

    labels = connected_components(
        pairs.select("id_a", "id_b"), "id_a", "id_b"
    ).withColumnRenamed("node", "id")
    ids = df.select(F.col(id_col).alias("id"))
    out = ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("cluster_id")
    )
    return out.withColumn(
        "is_canonical",
        (F.col("id") == F.col("cluster_id")).cast("int"),
    )


def near_dup_clusters_oracle_sql(
    table: str,
    id_col: str,
    pairs_sql: str,
) -> str:
    """DuckDB twin of ``near_dup_clusters``: recursive-CTE transitive
    closure over the (exactly replicated) pair SQL, min-id label. The
    closure is O(sum of cluster sizes squared) — an oracle-only device
    for driver-scale graphs, not a scale path."""
    return f"""
WITH RECURSIVE p AS ({pairs_sql}
), edges AS (
  SELECT id_a AS u, id_b AS v FROM p
  UNION
  SELECT id_b AS u, id_a AS v FROM p
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), lbl AS (
  SELECT u, least(u, min(v)) AS cid FROM reach GROUP BY u
)
SELECT d.{id_col} AS id,
       CAST(coalesce(l.cid, d.{id_col}) AS BIGINT) AS cluster_id,
       CAST(CASE WHEN coalesce(l.cid, d.{id_col}) = d.{id_col}
            THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
FROM {table} d LEFT JOIN lbl l ON l.u = d.{id_col}
"""
