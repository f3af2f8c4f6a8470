"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship fuzzy-match query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query; match-pipeline oracles
are *generated* from the same MatchConfig by
record_matcher_spark.plans.sql_oracle, mirroring the Spark expression tree
FP-op-for-FP-op so value hashes agree.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from record_matcher_spark.config import ColumnRule, MatchConfig
from record_matcher_spark.functions.scorers import blank_coalesce
from record_matcher_spark.operators.resolve import resolve_matches
from record_matcher_spark.operators.scoring import score_pairs
from record_matcher_spark.operators.sessions import GAP_SECONDS

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)


# --------------------------------------------------------------------------
# match-pipeline queries: Spark engine vs generated DuckDB oracle
# --------------------------------------------------------------------------
# x = perturbed self-copy of customer (pure-SQL perturbation so both engines
# derive the identical table); y = customer. Blocking on nationkey.

_X_EXACT = (
    "SELECT c_custkey AS row_id, "
    "CASE WHEN c_custkey % 7 = 0 THEN substr(c_name, 1, 12) ELSE c_name END AS name, "
    "c_mktsegment AS seg, c_nationkey AS nk FROM customer"
)
_X_FUZZY = (
    "SELECT c_custkey AS row_id, "
    "CASE WHEN c_custkey % 5 = 0 THEN substr(c_name, 1, 15) || '~x' "
    "ELSE c_name END AS name, "
    "c_mktsegment AS seg, c_nationkey AS nk FROM customer"
)
_Y_CUST = (
    "SELECT c_custkey AS row_id, c_name AS name, c_mktsegment AS seg, "
    "c_nationkey AS nk FROM customer"
)

_CFG_EXACT = MatchConfig(
    rules=(
        ColumnRule("name", ("name",), scorer="exact_match"),
        ColumnRule("seg", ("seg",), scorer="exact_match"),
    ),
    columns_to_group={"nk": "nk"},
)
_CFG_FUZZY = MatchConfig(
    rules=(
        ColumnRule("name", ("name",), scorer="levenshtein_ratio", threshold=80.0,
                   cutoff=True),
        ColumnRule("seg", ("seg",), scorer="exact_match"),
    ),
    columns_to_group={"nk": "nk"},
)
_CFG_JW = MatchConfig(
    rules=(
        # cutoff=True: sub-90 JW contributes nothing, which arms the
        # sound length-ratio pre-gate (scorers._jw_upper_bound) — pairs
        # that provably cannot clear 90 never reach the pandas UDF kernel
        ColumnRule("name", ("name",), scorer="jaro_winkler", threshold=90.0,
                   cutoff=True),
        ColumnRule("seg", ("seg",), scorer="token_set_jaccard"),
    ),
    columns_to_group={"nk": "nk"},
)


# Status-coverage dataset: x rows engineered (pure SQL, by c_custkey mod)
# to land in every one of the five reference statuses, plus a pulled
# column (columns_to_get -> y_name) so the driver exercises O9 and the
# duplicate-resolution clearing rules:
#   mod 0,1,2,8,9: exact name copy            -> MATCHED (score 100 > opt)
#   mod 3: blank name, seg kept               -> seg-only score ties across
#                                                the nation block -> AMBIGUOUS
#   mod 4: garbage name+seg                   -> no gate passes -> UNMATCHED
#   mod 5: name || '~review~'                 -> single survivor scoring
#                                                between required(50) and
#                                                optimal(75) -> REVIEW
#   mod 6 + identical clone (+2e6 row_id)     -> two x tie at 100 on one y
#                                                -> both DUPLICATE
#   mod 7 + worse clone (+3e6, name || 'z')   -> y-competition: clone's
#                                                claim reset -> UNMATCHED
#                                                with cleared annotations
_X_STATUS = """
SELECT c_custkey AS row_id,
  CASE
    WHEN c_custkey % 10 = 3 THEN ''
    WHEN c_custkey % 10 = 4 THEN 'qq'
    WHEN c_custkey % 10 = 5 THEN c_name || '~review~'
    ELSE c_name
  END AS name,
  CASE WHEN c_custkey % 10 = 4 THEN 'zz' ELSE c_mktsegment END AS seg,
  c_nationkey AS nk
FROM customer
UNION ALL
SELECT c_custkey + 2000000 AS row_id, c_name AS name,
       c_mktsegment AS seg, c_nationkey AS nk
FROM customer WHERE c_custkey % 10 = 6
UNION ALL
SELECT c_custkey + 3000000 AS row_id, c_name || 'z' AS name,
       c_mktsegment AS seg, c_nationkey AS nk
FROM customer WHERE c_custkey % 10 = 7
"""

_CFG_STATUS = MatchConfig(
    rules=(
        ColumnRule("name", ("name",), scorer="levenshtein_ratio", threshold=75.0),
        ColumnRule("seg", ("seg",), scorer="exact_match", threshold=75.0),
    ),
    columns_to_group={"nk": "nk"},
    columns_to_get={"name": "y_name"},
    required_threshold=50.0,
)


def _q_match_statuses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8+O9+O11 driver coverage: all five statuses + pulled column."""
    _register_views(spark, sf_dir, ["customer"])
    x = spark.sql(_X_STATUS)
    y = spark.sql(_Y_CUST)
    res = resolve_matches(
        x, y, score_pairs(x, y, _CFG_STATUS), _CFG_STATUS, keep_debug=True
    )
    return res.select(
        F.col("row_id"),
        F.col("match_status"),
        F.col("row(s)_matched").alias("rows_matched"),
        F.when(
            F.col("__rm_final") != "unmatched",
            F.round(F.col("__rm_best_score"), 6),
        ).alias("best_score"),
        F.col("y_name"),
    )


def _q_match_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 driver coverage: final + reference-compatible (double-counting)
    status summaries over the status-coverage dataset."""
    from record_matcher_spark.operators.resolve import match_summary

    _register_views(spark, sf_dir, ["customer"])
    x = spark.sql(_X_STATUS)
    y = spark.sql(_Y_CUST)
    res = resolve_matches(
        x, y, score_pairs(x, y, _CFG_STATUS), _CFG_STATUS, keep_debug=True
    )
    final, ref_compat = match_summary(res)
    return final.select(
        F.lit("final").alias("summary_kind"),
        "status",
        F.col("count").cast("long").alias("n"),
    ).unionByName(
        ref_compat.select(
            F.lit("ref_compat").alias("summary_kind"),
            "status",
            F.col("count").cast("long").alias("n"),
        )
    )


def _match_query(cfg: MatchConfig, x_sql: str, y_sql: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register_views(spark, sf_dir, ["customer"])
        x = spark.sql(x_sql)
        y = spark.sql(y_sql)
        res = resolve_matches(x, y, score_pairs(x, y, cfg), cfg, keep_debug=True)
        return res.select(
            F.col("row_id"),
            F.col("match_status"),
            F.col("row(s)_matched").alias("rows_matched"),
            F.when(
                F.col("__rm_final") != "unmatched",
                F.round(F.col("__rm_best_score"), 6),
            ).alias("best_score"),
        )

    return q


def _match_oracle(cfg: MatchConfig, x_sql: str, y_sql: str) -> str:
    from record_matcher_spark.plans.sql_oracle import matcher_oracle_sql

    return matcher_oracle_sql(cfg, x_sql, y_sql)


def _match_summary_oracle(cfg: MatchConfig, x_sql: str, y_sql: str) -> str:
    from record_matcher_spark.plans.sql_oracle import matcher_summary_oracle_sql

    return matcher_summary_oracle_sql(cfg, x_sql, y_sql)


# --------------------------------------------------------------------------
# operator-level queries with hand-written oracles
# --------------------------------------------------------------------------


def _q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: distinct-truthy ratio per column (records.py:49-67)."""
    _register_views(spark, sf_dir, ["customer"])
    df = spark.table("customer")
    total = F.count(F.lit(1))

    def u(c):
        s = blank_coalesce(F.col(c))
        return (F.count_distinct(F.when(s != "", s)) / total).alias(f"u_{c}")

    return df.agg(u("c_name"), u("c_mktsegment"), u("c_nationkey"))


_SQL_UNIQUENESS = """
SELECT
  count(DISTINCT CASE WHEN coalesce(CAST(c_name AS VARCHAR),'') <> ''
        THEN coalesce(CAST(c_name AS VARCHAR),'') END) / count(*) AS u_c_name,
  count(DISTINCT CASE WHEN coalesce(CAST(c_mktsegment AS VARCHAR),'') <> ''
        THEN coalesce(CAST(c_mktsegment AS VARCHAR),'') END) / count(*) AS u_c_mktsegment,
  count(DISTINCT CASE WHEN coalesce(CAST(c_nationkey AS VARCHAR),'') <> ''
        THEN coalesce(CAST(c_nationkey AS VARCHAR),'') END) / count(*) AS u_c_nationkey
FROM customer
"""


def _q_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: duplicate finder (records.py:135-153) on orders.o_custkey."""
    from record_matcher_spark.operators.records_ops import duplicated_by_column

    _register_views(spark, sf_dir, ["orders"])
    return duplicated_by_column(spark.table("orders"), "o_custkey").select(
        "o_orderkey", "o_custkey"
    )


_SQL_DUPLICATED = """
SELECT o_orderkey, o_custkey FROM (
  SELECT o_orderkey, o_custkey,
         count(*) OVER (PARTITION BY coalesce(CAST(o_custkey AS VARCHAR),'')) AS n,
         coalesce(CAST(o_custkey AS VARCHAR),'') AS k
  FROM orders
) WHERE k <> '' AND n > 1
"""


def _q_blocking_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 blocking as an equi-join: customer x supplier on nationkey."""
    _register_views(spark, sf_dir, ["customer", "supplier"])
    c = spark.table("customer")
    s = spark.table("supplier")
    return c.join(
        s,
        blank_coalesce(c["c_nationkey"]) == blank_coalesce(s["s_nationkey"]),
        "inner",
    ).select("c_custkey", "s_suppkey")


_SQL_BLOCKING_JOIN = """
SELECT c_custkey, s_suppkey
FROM customer c JOIN supplier s
  ON coalesce(CAST(c.c_nationkey AS VARCHAR),'')
   = coalesce(CAST(s.s_nationkey AS VARCHAR),'')
"""


def _q_window_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7's argmax-with-ties: per customer, the max-totalprice order(s)
    (matcher.py:202-208 as window algebra)."""
    from pyspark.sql import Window

    _register_views(spark, sf_dir, ["orders"])
    o = spark.table("orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("mx", F.max("o_totalprice").over(w))
        .where(F.col("o_totalprice") == F.col("mx"))
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("best_price"))
    )


_SQL_WINDOW_ARGMAX = """
SELECT o_custkey, o_orderkey, o_totalprice AS best_price FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         max(o_totalprice) OVER (PARTITION BY o_custkey) AS mx
  FROM orders
) WHERE o_totalprice = mx
"""


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash groupBy): documents + an id-shifted copy; keep
    min(doc_id) per identical text."""
    _register_views(spark, sf_dir, ["documents"])
    d = spark.table("documents").select("doc_id", "text")
    dup = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return (
        d.unionByName(dup)
        .groupBy("text")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("kept_doc_id", "n_copies")
    )


_SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS kept_doc_id, count(*) AS n_copies FROM (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
) GROUP BY text
"""


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting over documents (whitespace tokens)."""
    _register_views(spark, sf_dir, ["documents"])
    d = spark.table("documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
    )


_SQL_TOKEN_STATS = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))
    AS n_tokens,
  len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
      t -> t <> ''))) AS n_distinct_tokens
FROM documents
"""


# --------------------------------------------------------------------------
# training-data pipeline operators (operators/{dedup,similarity,text,
# multimodal}) — each Spark query has a generated DuckDB twin built from
# the same hash/plane literals (functions/texthash), so value hashes match
# exactly.
# --------------------------------------------------------------------------

_EMB_QUERIES_SQL = "SELECT * FROM embeddings WHERE vec_id < 10"


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.dedup import minhash_lsh_pairs

    _register_views(spark, sf_dir, ["documents"])
    return minhash_lsh_pairs(spark.table("documents"), "doc_id", "text")


def _q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters,
    )

    _register_views(spark, sf_dir, ["documents"])
    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    return near_dup_clusters(docs, "doc_id", pairs)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.dedup import simhash_pairs

    _register_views(spark, sf_dir, ["documents"])
    return simhash_pairs(spark.table("documents"), "doc_id", "text")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.dedup import ngram_jaccard_pairs

    _register_views(spark, sf_dir, ["documents"])
    return ngram_jaccard_pairs(spark.table("documents"), "doc_id", "text")


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.dedup import embedding_near_dup

    _register_views(spark, sf_dir, ["embeddings"])
    return embedding_near_dup(spark.table("embeddings"), "vec_id", "embedding")


_SQL_EMBEDDING_NEAR_DUP_TMPL = """
WITH base AS (
  SELECT vec_id AS id, embedding AS v, sqrt({dot_vv}) AS nrm
  FROM embeddings
), nz AS (SELECT * FROM base WHERE nrm > 0)
SELECT a.id AS id_a, b.id AS id_b, {q6cos} AS cosine
FROM nz a, nz b
WHERE a.id < b.id AND {q6cos} >= {threshold}
"""


def _sql_embedding_near_dup() -> str:
    from record_matcher_spark.functions.texthash import q6_sql
    from record_matcher_spark.operators.similarity import NEAR_DUP_COSINE, dot_sql

    dot_ab = dot_sql("a.v", "b.v")
    return _SQL_EMBEDDING_NEAR_DUP_TMPL.format(
        dot_vv=dot_sql("embedding", "embedding"),
        q6cos=q6_sql(f"{dot_ab} / (a.nrm * b.nrm)"),
        threshold=NEAR_DUP_COSINE,
    )


def _q_embedding_srp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.similarity import srp_lsh_pairs

    _register_views(spark, sf_dir, ["embeddings"])
    return srp_lsh_pairs(spark.table("embeddings"), "vec_id", "embedding")


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.similarity import cosine_topk

    _register_views(spark, sf_dir, ["embeddings"])
    e = spark.table("embeddings")
    return cosine_topk(e, e.where("vec_id < 10"), "vec_id", "embedding")


def _q_srp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.similarity import srp_lsh_topk

    _register_views(spark, sf_dir, ["embeddings"])
    e = spark.table("embeddings")
    return srp_lsh_topk(e, e.where("vec_id < 10"), "vec_id", "embedding")


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # similarity.IVF_TRAIN_ITERS = 2 pins the ITERATIVE k-means loop
    # cross-engine (the multi-step fixed-point coordinate sums + the
    # oracle's iterative CTEs), not just one refinement step
    from record_matcher_spark.operators.similarity import ivf_topk

    _register_views(spark, sf_dir, ["embeddings"])
    e = spark.table("embeddings")
    return ivf_topk(e, e.where("vec_id < 10"), "vec_id", "embedding")


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.text import language_id

    _register_views(spark, sf_dir, ["documents"])
    return language_id(spark.table("documents"), "doc_id", "text")


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.text import quality_score

    _register_views(spark, sf_dir, ["documents"])
    return quality_score(spark.table("documents"), "doc_id", "text")


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.text import fingerprints

    _register_views(spark, sf_dir, ["documents"])
    out = fingerprints(spark.table("documents"), "doc_id", "text")
    # the driver's canonicalizer sorts on pandas object columns — arrays are
    # unhashable there, so ship the fingerprint as a joined scalar string
    return out.select(
        "id",
        F.array_join(F.col("fingerprint").cast("array<string>"), ",").alias(
            "fingerprint"
        ),
        "doc_hash",
    )


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from record_matcher_spark.operators.multimodal import (
        attach_media,
        extract_media_features,
    )

    _register_views(spark, sf_dir, ["documents"])
    out = extract_media_features(
        attach_media(spark.table("documents"), "doc_id", "text")
    )
    # same canonicalizer constraint: array<long> features -> scalar string
    return out.select(
        "id",
        "kind",
        "n_bytes",
        F.array_join(F.col("features").cast("array<string>"), ",").alias(
            "features"
        ),
    )


def _q_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn→conversation-style rollup on the events table (operators.rollup
    — same one-groupBy / sort_array plan as rollup_conversations): per
    user, the event_type sequence ordered by (ts, event_id)."""
    from record_matcher_spark.operators.rollup import rollup_sequence

    _register_views(spark, sf_dir, ["events"])
    out = rollup_sequence(
        spark.table("events"), "user_id", ["ts", "event_id"], "event_type"
    )
    return out.select(
        "user_id",
        "event_type_seq",
        "n_items",
        F.unix_timestamp("ts_min").alias("ts_min_epoch"),
    )


_SQL_SESSION_ROLLUP = """
SELECT user_id,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS event_type_seq,
       count(*) AS n_items,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS ts_min_epoch
FROM events
GROUP BY user_id
"""


# The oracles' session gap in microseconds: sessions.GAP_SECONDS, the
# gap both session operators apply.
_SESSION_GAP_US = GAP_SECONDS * 1000000


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates via Spark's NATIVE session_window
    (operators.sessions.session_stats). The oracle derives the identical
    sessions independently — lag + running-sum windows on integer epoch
    microseconds — so the native gap-merge semantics are cross-checked
    against a from-first-principles formulation."""
    from record_matcher_spark.operators.sessions import session_stats

    _register_views(spark, sf_dir, ["events"])
    return session_stats(spark.table("events"))


_SQL_EVENT_SESSIONS = f"""
WITH e AS (
  SELECT user_id, event_id, ts, event_type, value,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_s) OVER (
    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
  ) - 1 AS session_idx
  FROM e
)
SELECT user_id,
       count(*) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end_epoch,
       count(DISTINCT event_type) AS n_event_types,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents_sum
FROM s
GROUP BY user_id, session_idx
"""


def _q_event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session labels (operators.sessions.sessionize — lag +
    running count over a per-user window)."""
    from record_matcher_spark.operators.sessions import sessionize

    _register_views(spark, sf_dir, ["events"])
    out = sessionize(spark.table("events"))
    return out.select("event_id", "user_id", "session_idx", "session_id")


_SQL_EVENT_SESSIONIZE = f"""
WITH e AS (
  SELECT event_id, user_id, ts,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT event_id, user_id,
    CAST(sum(new_s) OVER (
      PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
    ) - 1 AS BIGINT) AS session_idx
  FROM e
)
SELECT event_id, user_id, session_idx,
       CAST(user_id AS VARCHAR) || '#' || CAST(session_idx AS VARCHAR)
         AS session_id
FROM s
"""


def _q_event_sessionize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heavy-user SPLIT path of sessionize, cross-engine: per-(user,
    6h-bucket) windows + exact boundary stitching (sessions.sessionize
    ``split_bucket_seconds``). The bucket width (6h) is deliberately
    SMALLER than the gap (12h) so nearly every bucket boundary must
    stitch — the stress shape. Labels are provably identical to the
    unsplit path for every width, so the oracle is the very same SQL as
    ``event_sessionize``."""
    from record_matcher_spark.operators.sessions import sessionize

    _register_views(spark, sf_dir, ["events"])
    out = sessionize(spark.table("events"), split_bucket_seconds=6 * 3600)
    return out.select("event_id", "user_id", "session_idx", "session_id")


def _q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive clustering (large-star/small-star CC) on per-customer
    order chains: consecutive orders of one customer form path edges; CC
    must traverse the chain. Closed-form oracle: component = min orderkey
    per customer (for customers with >= 2 orders)."""
    from pyspark.sql import Window

    from record_matcher_spark.operators.cluster import connected_components

    _register_views(spark, sf_dir, ["orders"])
    o = spark.table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        o.withColumn("prev", F.lag("o_orderkey").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("o_orderkey").alias("dst"))
    )
    return connected_components(edges, "src", "dst").select(
        F.col("node"), F.col("component")
    )


_SQL_CONNECTED_COMPONENTS = """
SELECT o_orderkey AS node,
       min(o_orderkey) OVER (PARTITION BY o_custkey) AS component
FROM orders
QUALIFY count(*) OVER (PARTITION BY o_custkey) >= 2
"""


# Closed-form full-pipeline oracle: a transcripts table derived in pure SQL
# from `customer` (both engines build the identical input). Entity k gets
# 1 + (k % 3) variant conversations; every turn text uses entity-unique
# tokens (e<k>a ... e<k>j) plus one per-variant token, so:
#   - within-entity full_text token-set Jaccard = 9/11 ~ 81.8 (>= threshold
#     45 by a wide margin; first_user_text identical => levenshtein 100)
#   - cross-entity token sets are DISJOINT => full_text scores 0 and the
#     max possible cross-entity row score is the first_user_text
#     contribution alone (< 34 by weight), far below 45
#   - within-entity pairs are guaranteed candidates: the token-prefix
#     blocking key (first 3 sorted tokens of first_user_text) is
#     entity-unique; the shared role_seq key exceeds its block cap and is
#     dropped (exercising the cap path)
# so connected components = entities exactly, and the cluster label
# (min conv_id) has the closed form 'c<k>_v0'. The oracle needs no CC —
# it derives the same conv list and labels in one SELECT.
_TRANSCRIPTS_FROM_CUSTOMER_SPARK = """
WITH v AS (
  SELECT c_custkey AS k, explode(sequence(0, c_custkey % 3)) AS v
  FROM customer
), t AS (
  SELECT k, v, explode(sequence(0, 3)) AS turn_idx FROM v
)
SELECT concat('c', k, '_v', v) AS conv_id,
       CAST(turn_idx AS INT) AS turn_idx,
       CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       CASE turn_idx
         WHEN 0 THEN concat('e', k, 'a e', k, 'b e', k, 'c e', k, 'd')
         WHEN 1 THEN concat('e', k, 'e e', k, 'f e', k, 'g')
         WHEN 2 THEN concat('e', k, 'h v', k, 'x', v)
         ELSE concat('e', k, 'i e', k, 'j')
       END AS text,
       '' AS tool,
       timestamp_seconds(k * 1000 + v * 10 + turn_idx) AS ts
FROM t
"""

_SQL_TRANSCRIPT_CLUSTERS = """
SELECT 'c' || CAST(k AS VARCHAR) || '_v' || CAST(v AS VARCHAR) AS conv_id,
       'c' || CAST(k AS VARCHAR) || '_v0' AS cluster_id
FROM (
  SELECT c_custkey AS k, unnest(range(0, c_custkey % 3 + 1)) AS v
  FROM customer
)
"""


def _q_transcript_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end transcript ER pipeline (north star): rollup -> derived
    blocking keys (incl. block capping) -> weighted scoring -> resolve ->
    connected components, on the SQL-derived corpus above — checked
    against the closed-form cluster oracle."""
    from record_matcher_spark.pipeline import match_transcripts

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_FROM_CUSTOMER_SPARK)
    res = match_transcripts(t, edge_mode="threshold")
    return res.clusters


# Noisy-corpus closed form: same entity/variant structure as
# _TRANSCRIPTS_FROM_CUSTOMER_SPARK but with PER-ROW TEXT NOISE — variant v
# of entity k "typos" the turn-1 token at position (k+v)%3 (token ->
# token~v), so every variant's text differs from every other's. The noise
# is provably inside the score margin:
#   - within-entity full_text Jaccard is EXACTLY 8/14 ~ 57.1 for every
#     variant pair (each variant drops its own typo position from the
#     shared set and adds 2 private tokens: typo + v-token); with weights
#     w_ft ~ 2/3, w_fut ~ 1/3 the row score is ~71 >= threshold 45
#   - cross-entity token sets stay disjoint (everything is k-prefixed) so
#     full_text scores 0 and the max cross-entity row score stays the
#     weighted first_user_text levenshtein (~0.33 * ~87 < 31 << 45)
#   - first_user_text (turn 0) is untouched, so the entity-unique
#     token-prefix blocking key still guarantees within-entity candidates
# Clusters therefore still equal entities and the label keeps the
# one-SELECT closed form 'c<k>_v0'.
_TRANSCRIPTS_NOISY_SPARK = """
WITH v AS (
  SELECT c_custkey AS k, explode(sequence(0, c_custkey % 3)) AS v
  FROM customer
), t AS (
  SELECT k, v, explode(sequence(0, 3)) AS turn_idx FROM v
)
SELECT concat('c', k, '_v', v) AS conv_id,
       CAST(turn_idx AS INT) AS turn_idx,
       CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       CASE turn_idx
         WHEN 0 THEN concat('e', k, 'a e', k, 'b e', k, 'c e', k, 'd')
         WHEN 1 THEN concat(
           CASE WHEN (k + v) % 3 = 0 THEN concat('e', k, 'e~', v)
                ELSE concat('e', k, 'e') END, ' ',
           CASE WHEN (k + v) % 3 = 1 THEN concat('e', k, 'f~', v)
                ELSE concat('e', k, 'f') END, ' ',
           CASE WHEN (k + v) % 3 = 2 THEN concat('e', k, 'g~', v)
                ELSE concat('e', k, 'g') END)
         WHEN 2 THEN concat('e', k, 'h v', k, 'x', v)
         ELSE concat('e', k, 'i e', k, 'j')
       END AS text,
       '' AS tool,
       timestamp_seconds(k * 1000 + v * 10 + turn_idx) AS ts
FROM t
"""


def _q_transcript_clusters_noisy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline on the bounded-perturbation noisy corpus (per-row
    deterministic typos, margins proven in the corpus comment) — the
    realistic-path variant of transcript_clusters WITH an exact oracle."""
    from record_matcher_spark.pipeline import match_transcripts

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_NOISY_SPARK)
    res = match_transcripts(t, edge_mode="threshold")
    return res.clusters


def _q_transcript_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise_f1 harness as a driver row: on the noisy closed-form
    corpus the clusters provably equal the entities, so the metrics have
    a one-SELECT closed form — fp = fn = 0, precision = recall = f1 = 1,
    and tp = sum over entities of C(n_variants, 2) restricted to blocked
    candidates (= all within-entity pairs; the entity-unique token-prefix
    key guarantees them)."""
    from record_matcher_spark.pipeline import match_transcripts, pairwise_f1

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_NOISY_SPARK)
    res = match_transcripts(t, edge_mode="threshold")
    truth = t.select(
        "conv_id",
        F.regexp_extract("conv_id", r"^c(\d+)_v", 1).alias("entity_id"),
    ).distinct()
    m = pairwise_f1(res.clusters, truth, res.candidates)
    return spark.createDataFrame(
        [(
            int(m["tp"]), int(m["fp"]), int(m["fn"]),
            float(m["precision"]), float(m["recall"]), float(m["f1"]),
        )],
        "tp long, fp long, fn long, precision double, recall double, f1 double",
    )


_SQL_TRANSCRIPT_F1 = """
SELECT CAST(sum((c_custkey % 3 + 1) * (c_custkey % 3) / 2) AS BIGINT) AS tp,
       CAST(0 AS BIGINT) AS fp, CAST(0 AS BIGINT) AS fn,
       CAST(1.0 AS DOUBLE) AS "precision",
       CAST(1.0 AS DOUBLE) AS recall,
       CAST(1.0 AS DOUBLE) AS f1
FROM customer
"""


# Realistic-shape corpus WITH an exact oracle (round-4: closes the last
# no_oracle row). Same margin-bounded-noise technique as
# _TRANSCRIPTS_NOISY_SPARK, extended to every noise channel the datagen
# corpus exercises (datagen.py _gen_entity/_perturb_text):
#   - VARIABLE turn counts: T(k) = 4 + 2*((k%7)%3) in {4,6,8}
#   - TYPOS: variant v>=1 corrupts the turn-1 token at position (k+v)%3
#     (token -> token~v); positions differ for v=1 vs v=2, so every
#     variant pair's token overlap has a closed form
#   - PARAPHRASE: turn 3 reorders its two tokens per variant parity
#     (token_set_jaccard is order-invariant; levenshtein never sees it —
#     it reads first_user_text only, which is untouched)
#   - ROLE NOISE: variant v>=1 with (k+v)%4==0 renames turn 1's
#     assistant to 'bot' (role_seq then mismatches within the entity —
#     the exact_match rule contributes 0 for those pairs)
#   - TOOL TURNS: entities with T>=6 add a 'tool' turn (tool name from a
#     3-element set), so tool_seq is nonblank and can match ACROSS
#     entities
#   - DUPLICATE MENTIONS: turns 4-7 only repeat core tokens (token SETS
#     unchanged — "assistant restates" realism)
#   - WHITESPACE NOISE: trailing double space on turn 1 when (k+v)%5==0
#     (tokenizers split on \s+; levenshtein never sees turn 1)
#   - TS JITTER: per-variant second-level offsets
#
# Why clusters still provably equal entities (cluster label 'c<k>_v0'):
#   tokens all embed k unambiguously ('e<k><letter a..j>', 'e<k><l>~<v>',
#   'v<k>x<v>'), so cross-entity full_text token sets are DISJOINT ->
#   jaccard 0 -> that rule's >0 gate fails and contributes nothing.
#   Within entity: shared core = {a,b,c,d,h,i,j} (7, duplicated-mention
#   turns add no new tokens) + {e,f,g} minus each side's typo position;
#   variant sets are 11 tokens each, so pair (0,w>=1): J = 9/13 ~ 69.2,
#   pair (1,2): J = 8/14 ~ 57.1 (typo positions (k+1)%3 != (k+2)%3).
#   Weights (scoring.prepare_x): u(full_text)=1 exactly (the v<k>x<v>
#   token makes every conversation's text unique), u(first_user_text) =
#   n_entities/n_convs <= ~0.51 (contiguous TPC-H custkeys are uniform
#   mod 3, so n_convs >= 2*n_entities - 2), u(role_seq) <= 9/n_convs
#   (<= 9 distinct role sequences: 3 lengths x bot-flip x first-variant
#   shapes), u(tool_seq) <= 3/n_convs; per-row u_sum >= 1. Hence
#     eps := w(role_seq)+w(tool_seq) <= 12/n_convs  (< 0.005 at sf0.001+)
#     within-entity: score >= (1-eps)*min(J,100) >= 0.995*57.1 = 56.8 > 45
#       (full_text and first_user_text contributions are a convex
#        combination of J and lev=100; role/tool at worst contribute 0)
#     cross-entity: score <= w(first_user_text)*100 + eps*100
#       <= (0.51/1.51)*100 + 0.5 = 34.3 < 45
#   The entity-unique token-prefix key on the UNTOUCHED first_user_text
#   guarantees every within-entity pair is a candidate (block size <= 3,
#   uncapped family); threshold-mode edges therefore connect exactly the
#   within-entity pairs, CC gives one cluster per entity, and min conv_id
#   = 'c<k>_v0' — the same one-SELECT closed form as transcript_clusters.
_TRANSCRIPTS_CORPUS_SPARK = """
WITH v AS (
  SELECT c_custkey AS k, explode(sequence(0, c_custkey % 3)) AS v
  FROM customer
), t AS (
  SELECT k, v, explode(sequence(0, 3 + 2 * ((k % 7) % 3))) AS turn_idx
  FROM v
)
SELECT concat('c', k, '_v', v) AS conv_id,
       CAST(turn_idx AS INT) AS turn_idx,
       CASE
         WHEN turn_idx = 4 THEN 'tool'
         WHEN turn_idx = 1 AND v > 0 AND (k + v) % 4 = 0 THEN 'bot'
         WHEN turn_idx % 2 = 0 THEN 'user'
         ELSE 'assistant'
       END AS role,
       CASE turn_idx
         WHEN 0 THEN concat('e', k, 'a e', k, 'b e', k, 'c e', k, 'd')
         WHEN 1 THEN concat(
           CASE WHEN v > 0 AND (k + v) % 3 = 0 THEN concat('e', k, 'e~', v)
                ELSE concat('e', k, 'e') END, ' ',
           CASE WHEN v > 0 AND (k + v) % 3 = 1 THEN concat('e', k, 'f~', v)
                ELSE concat('e', k, 'f') END, ' ',
           CASE WHEN v > 0 AND (k + v) % 3 = 2 THEN concat('e', k, 'g~', v)
                ELSE concat('e', k, 'g') END,
           CASE WHEN (k + v) % 5 = 0 THEN '  ' ELSE '' END)
         WHEN 2 THEN concat('e', k, 'h v', k, 'x', v)
         WHEN 3 THEN CASE WHEN v % 2 = 0 THEN concat('e', k, 'i e', k, 'j')
                          ELSE concat('e', k, 'j e', k, 'i') END
         WHEN 4 THEN concat('e', k, 'b e', k, 'c')
         WHEN 5 THEN concat('e', k, 'd e', k, 'a')
         WHEN 6 THEN concat('e', k, 'h e', k, 'i')
         ELSE concat('e', k, 'j e', k, 'b')
       END AS text,
       CASE WHEN turn_idx = 4
            THEN element_at(array('search', 'sql', 'python'),
                            CAST(k % 3 + 1 AS INT))
            ELSE '' END AS tool,
       timestamp_seconds(k * 1000 + v * 30 + turn_idx * 3 + (k + v) % 3) AS ts
FROM t
"""


def _q_transcript_clusters_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline on the realistic-shape corpus (variable turn counts,
    typos, paraphrase reorders, role/tool noise, whitespace noise, ts
    jitter — every channel datagen exercises) with every perturbation
    provably inside the score margin (proof above the corpus SQL), so the
    clusters keep the one-SELECT closed form and the driver hash-checks
    this row exactly. The seeded datagen corpus (no closed form) remains
    covered by tests/test_transcripts.py against the vendored reference
    oracle."""
    from record_matcher_spark.pipeline import match_transcripts

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_CORPUS_SPARK)
    res = match_transcripts(t, edge_mode="threshold")
    return res.clusters


def _q_transcript_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ER (incremental.match_increment) with the same closed
    form as transcript_clusters: base corpus = variants v<2 of entities
    with k % 7 != 0, clustered by the batch pipeline; everything else
    arrives as a new batch and is folded in incrementally (v2 variants
    attach to existing base clusters; withheld k % 7 == 0 entities enter
    entirely through the batch and form new clusters). Wide margins =>
    no merges, and every conversation of entity k labels 'c<k>_v0' — the
    batch and incremental paths provably agree, so the oracle is the very
    same one-SELECT closed form."""
    from record_matcher_spark.incremental import apply_merges, match_increment
    from record_matcher_spark.pipeline import match_transcripts

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_FROM_CUSTOMER_SPARK)
    k = F.regexp_extract("conv_id", r"c(\d+)_v", 1).cast("long")
    v = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long")
    in_base = (v < F.lit(2)) & (k % 7 != 0)
    base = match_transcripts(t.where(in_base), edge_mode="threshold")
    inc = match_increment(
        t.where(~in_base), base.conversations, base.clusters,
        edge_mode="threshold",
    )
    return apply_merges(base.clusters, inc.merges).unionByName(inc.assignments)


def _q_transcript_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-mode ER (streaming.TranscriptStreamMatcher): the corpus
    arrives as three micro-batches sliced by variant index (v0, then v1,
    then v2) and is folded through the log-structured state store — the
    same foreachBatch sink a readStream drives (tests/test_streaming.py
    covers the actual Structured Streaming query; here the sink is
    invoked directly so batch order is deterministic for the oracle).

    Label agreement with the closed form: every entity's v0 conversation
    is in batch 0, so each cluster forms around 'c<k>_v0' first and later
    variants ATTACH to that stable base label (cluster stability — the
    incremental rep rule prefers the existing base label). Wide margins
    => no merges, and the final assignment table equals the batch
    pipeline's, so the oracle is the same one-SELECT closed form."""
    import shutil
    import tempfile

    from record_matcher_spark.streaming import TranscriptStreamMatcher

    _register_views(spark, sf_dir, ["customer"])
    t = spark.sql(_TRANSCRIPTS_FROM_CUSTOMER_SPARK)
    v = F.regexp_extract("conv_id", r"_v(\d+)$", 1).cast("long")
    work = tempfile.mkdtemp(prefix="rm_stream_q_")
    try:
        m = TranscriptStreamMatcher(spark, os.path.join(work, "state"))
        for batch_id in range(3):
            m.process_batch(t.where(v == batch_id), batch_id)
        m.compact()  # exercise snapshot generation; clusters invariant
        # materialize before the state dir is removed (the returned frame
        # must not depend on deleted files)
        rows = m.clusters().collect()
        return spark.createDataFrame(rows, "conv_id string, cluster_id string")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _dataops_oracles() -> dict[str, str]:
    from record_matcher_spark.operators import dedup, similarity
    from record_matcher_spark.operators import multimodal
    from record_matcher_spark.operators import text as text_ops

    return {
        "dedup_minhash_lsh": dedup.minhash_lsh_pairs_oracle_sql(
            "documents", "doc_id", "text"
        ),
        "dedup_minhash_clusters": dedup.near_dup_clusters_oracle_sql(
            "documents",
            "doc_id",
            dedup.minhash_lsh_pairs_oracle_sql("documents", "doc_id", "text"),
        ),
        "dedup_simhash": dedup.simhash_pairs_oracle_sql(
            "documents", "doc_id", "text"
        ),
        "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs_oracle_sql(
            "documents", "doc_id", "text"
        ),
        "dedup_embedding_cosine": _sql_embedding_near_dup(),
        "dedup_embedding_srp": similarity.srp_lsh_pairs_oracle_sql(
            "embeddings", "vec_id", "embedding"
        ),
        "ann_cosine_topk": similarity.cosine_topk_oracle_sql(
            "embeddings", _EMB_QUERIES_SQL, "vec_id", "embedding"
        ),
        "ann_srp_lsh_topk": similarity.srp_lsh_topk_oracle_sql(
            "embeddings", _EMB_QUERIES_SQL, "vec_id", "embedding"
        ),
        "ann_ivf_topk": similarity.ivf_topk_oracle_sql(
            "embeddings", _EMB_QUERIES_SQL, "vec_id", "embedding"
        ),
        "doc_language_id": text_ops.language_id_oracle_sql(
            "documents", "doc_id", "text"
        ),
        "doc_quality_score": text_ops.quality_score_oracle_sql(
            "documents", "doc_id", "text"
        ),
        # array outputs joined to scalar strings (driver-canonicalizer-safe;
        # coalesce: DuckDB array_to_string of [] is NULL, Spark's is '')
        "doc_fingerprints": (
            "SELECT id, coalesce(array_to_string(fingerprint, ','), '') AS "
            "fingerprint, doc_hash FROM ("
            + text_ops.fingerprints_oracle_sql("documents", "doc_id", "text")
            + ")"
        ),
        "media_features": (
            "SELECT id, kind, n_bytes, "
            "coalesce(array_to_string(features, ','), '') AS features FROM ("
            + multimodal.media_features_oracle_sql("documents", "doc_id", "text")
            + ")"
        ),
    }


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: fuzzy match of a perturbed
    customer table against the original with nationkey blocking."""
    return _match_query(_CFG_FUZZY, _X_FUZZY, _Y_CUST)(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "uniqueness_agg": _q_uniqueness,
        "duplicated_by_column": _q_duplicated,
        "blocking_join": _q_blocking_join,
        "window_argmax": _q_window_argmax,
        "match_exact": _match_query(_CFG_EXACT, _X_EXACT, _Y_CUST),
        "match_fuzzy": _match_query(_CFG_FUZZY, _X_FUZZY, _Y_CUST),
        "match_jw": _match_query(_CFG_JW, _X_FUZZY, _Y_CUST),
        "match_statuses": _q_match_statuses,
        "match_summary": _q_match_summary,
        "dedup_exact": _q_dedup_exact,
        "doc_token_stats": _q_token_stats,
        "session_rollup": _q_session_rollup,
        "event_sessions": _q_event_sessions,
        "event_sessionize": _q_event_sessionize,
        "event_sessionize_split": _q_event_sessionize_split,
        "connected_components": _q_connected_components,
        "transcript_clusters": _q_transcript_clusters,
        "transcript_clusters_noisy": _q_transcript_clusters_noisy,
        "transcript_f1": _q_transcript_f1,
        "transcript_clusters_corpus": _q_transcript_clusters_corpus,
        "transcript_increment": _q_transcript_increment,
        "transcript_stream": _q_transcript_stream,
        "dedup_minhash_lsh": _q_minhash_lsh,
        "dedup_minhash_clusters": _q_minhash_clusters,
        "dedup_simhash": _q_simhash,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "dedup_embedding_srp": _q_embedding_srp_dedup,
        "ann_cosine_topk": _q_cosine_topk,
        "ann_srp_lsh_topk": _q_srp_lsh_topk,
        "ann_ivf_topk": _q_ivf_topk,
        "doc_language_id": _q_language_id,
        "doc_quality_score": _q_quality_score,
        "doc_fingerprints": _q_fingerprints,
        "media_features": _q_media_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "uniqueness_agg": _SQL_UNIQUENESS,
        "duplicated_by_column": _SQL_DUPLICATED,
        "blocking_join": _SQL_BLOCKING_JOIN,
        "window_argmax": _SQL_WINDOW_ARGMAX,
        "match_exact": _match_oracle(_CFG_EXACT, _X_EXACT, _Y_CUST),
        "match_fuzzy": _match_oracle(_CFG_FUZZY, _X_FUZZY, _Y_CUST),
        "match_jw": _match_oracle(_CFG_JW, _X_FUZZY, _Y_CUST),
        "match_statuses": _match_oracle(_CFG_STATUS, _X_STATUS, _Y_CUST),
        "match_summary": _match_summary_oracle(
            _CFG_STATUS, _X_STATUS, _Y_CUST
        ),
        "dedup_exact": _SQL_DEDUP_EXACT,
        "doc_token_stats": _SQL_TOKEN_STATS,
        "session_rollup": _SQL_SESSION_ROLLUP,
        "event_sessions": _SQL_EVENT_SESSIONS,
        "event_sessionize": _SQL_EVENT_SESSIONIZE,
        # split path: labels provably identical for every bucket width
        "event_sessionize_split": _SQL_EVENT_SESSIONIZE,
        "connected_components": _SQL_CONNECTED_COMPONENTS,
        "transcript_clusters": _SQL_TRANSCRIPT_CLUSTERS,
        # same closed-form labels: the noise is provably inside the margin
        "transcript_clusters_noisy": _SQL_TRANSCRIPT_CLUSTERS,
        "transcript_f1": _SQL_TRANSCRIPT_F1,
        # realistic-shape corpus: the perturbations are margin-bounded
        # (proof at _TRANSCRIPTS_CORPUS_SPARK) so the same closed form holds
        "transcript_clusters_corpus": _SQL_TRANSCRIPT_CLUSTERS,
        "transcript_increment": _SQL_TRANSCRIPT_CLUSTERS,
        "transcript_stream": _SQL_TRANSCRIPT_CLUSTERS,
        **_dataops_oracles(),
    }
