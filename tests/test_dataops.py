"""Training-data operators: Spark vs DuckDB-oracle differential tests.

Every operator in operators/{dedup,similarity,text,multimodal} has a
DuckDB SQL twin built from the same literals (functions/texthash).
These tests run both engines on /root/testdata/sf0.001 and require
EXACT agreement (integer hashing; floats quantized via texthash.q6).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from record_matcher_spark.operators import dedup, multimodal, similarity
from record_matcher_spark.operators import text as text_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
    )
    return con


def assert_frames_equal(sdf, duck_df, sort_cols):
    sp = sdf.toPandas()
    du = duck_df
    sp = sp.reindex(sorted(sp.columns), axis=1)
    du = du.reindex(sorted(du.columns), axis=1)
    assert list(sp.columns) == list(du.columns), (sp.columns, du.columns)
    sp = sp.sort_values(sort_cols).reset_index(drop=True)
    du = du.sort_values(sort_cols).reset_index(drop=True)
    assert sp.shape == du.shape, (sp.shape, du.shape)
    for c in sp.columns:
        a, b = sp[c], du[c]
        if a.map(lambda v: hasattr(v, "tolist") or isinstance(v, list)).any():
            a = a.map(lambda v: tuple(v.tolist() if hasattr(v, "tolist") else v))
            b = b.map(lambda v: tuple(v.tolist() if hasattr(v, "tolist") else v))
            assert (a == b).all(), c
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            pd.testing.assert_series_equal(
                a.astype(float), b.astype(float), check_names=False,
                rtol=0, atol=1e-12,
            )
        else:
            assert (
                (a.astype("object") == b.astype("object"))
                | (a.isna() & b.isna())
            ).all(), c


def test_minhash_lsh_pairs(docs, duck):
    got = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    want = duck.sql(
        dedup.minhash_lsh_pairs_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id_a", "id_b"])
    assert len(want) > 0, "fixture should contain near-dup candidates"


def test_minhash_recall_on_planted_dups(spark, docs, monkeypatch):
    """Exact duplicates (jaccard 1.0) must always collide in every band."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(dedup, "MINHASH_THRESHOLD", 0.999)
    dup = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").unionByName(dup)
    pairs = dedup.minhash_lsh_pairs(both, "doc_id", "text")
    planted = pairs.where(
        F.col("id_b") - F.col("id_a") == 10000
    ).count()
    assert planted == docs.count()


def test_simhash_pairs(docs, duck):
    got = dedup.simhash_pairs(docs, "doc_id", "text")
    want = duck.sql(
        dedup.simhash_pairs_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id_a", "id_b"])


def test_ngram_jaccard_pairs(docs, duck):
    got = dedup.ngram_jaccard_pairs(docs, "doc_id", "text")
    want = duck.sql(
        dedup.ngram_jaccard_pairs_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id_a", "id_b"])


def test_simhash_band_blocks_bounded(spark, docs):
    """Scale guard: 16-bit band keys must spread the corpus — the largest
    band block stays a small fraction of n (the old 8-bit bands forced
    blocks of ~n/256, going quadratic at corpus scale)."""
    from pyspark.sql import functions as F

    sig = dedup.simhash_signatures(docs, "doc_id", "text")
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit(mask))
            for off, mask in dedup._SIMHASH_BANDS
        ]
    )
    keyed = sig.select(F.posexplode(bands).alias("band", "key"))
    hist = (
        keyed.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    )
    n_docs = sig.count()
    max_block = hist.agg(F.max("n")).first()[0]
    # No band key should swallow a meaningful slice of the corpus.
    # (The fixture plants near-dup families which legitimately share band
    # keys — that is the recall mechanism — so the bound is a fraction of
    # n, not a constant.)
    assert max_block <= max(8, n_docs // 8), (max_block, n_docs)


def test_ngram_bucket_slop_catches_boundary_pairs(spark, duck, monkeypatch):
    """A near-dup pair straddling a power-of-2 length boundary (len 63 vs
    66) must be found — pinned against the pre-slop plan which silently
    missed it — and Spark must agree with the oracle exactly."""
    monkeypatch.setattr(dedup, "NGRAM_THRESHOLD", 0.5)
    base = "abcdefghij klmnopqrst uvwxyz0123 ABCDEFGHIJ KLMNOPQRST uvw"
    assert len(base) == 58  # bucket 5
    longer = base + " tailcoda"  # 67 chars -> bucket 6
    rows = [(1, base, "en"), (2, longer, "en"), (3, "zz 99 xx", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = dedup.ngram_jaccard_pairs(df, "doc_id", "text").toPandas()
    assert set(zip(got.id_a, got.id_b)) == {(1, 2)}
    con = duckdb.connect()
    con.register("boundary_docs", pd.DataFrame(
        rows, columns=["doc_id", "text", "lang"]
    ))
    want = con.sql(
        dedup.ngram_jaccard_pairs_oracle_sql("boundary_docs", "doc_id", "text")
    ).df()
    assert_frames_equal(
        spark.createDataFrame(got) if len(got) else spark.createDataFrame(
            [], "id_a long, id_b long, jaccard double"
        ),
        want,
        ["id_a", "id_b"],
    )


def test_ngram_block_cap_drops_hot_group(spark, duck, monkeypatch):
    """NGRAM_MAX_BLOCK drops over-cap (block, bucket) groups from both
    sides — engine and oracle replicate the same cap rule."""
    monkeypatch.setattr(dedup, "NGRAM_THRESHOLD", 0.3)
    monkeypatch.setattr(dedup, "NGRAM_MAX_BLOCK", 10)
    hot = [(i, f"hot text variant {i % 4} padding words", "en")
           for i in range(30)]
    cold = [(100, "cold pair text one two three", "de"),
            (101, "cold pair text one two four", "de")]
    rows = hot + cold
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = dedup.ngram_jaccard_pairs(df, "doc_id", "text").toPandas()
    # the 30-doc hot (en, bucket) group exceeds the cap: no hot pairs
    assert (got.id_a >= 100).all() and set(zip(got.id_a, got.id_b)) == {(100, 101)}
    con = duckdb.connect()
    con.register("cap_docs", pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    want = con.sql(
        dedup.ngram_jaccard_pairs_oracle_sql("cap_docs", "doc_id", "text")
    ).df()
    assert len(want) == len(got) == 1


def test_cosine_topk(embs, duck):
    got = similarity.cosine_topk(
        embs, embs.where("vec_id < 10"), "vec_id", "embedding"
    )
    want = duck.sql(
        similarity.cosine_topk_oracle_sql(
            "embeddings",
            "SELECT * FROM embeddings WHERE vec_id < 10",
            "vec_id",
            "embedding",
        )
    ).df()
    assert_frames_equal(got, want, ["q_id", "rank"])


def test_srp_lsh_topk_and_recall(embs, duck):
    got = similarity.srp_lsh_topk(
        embs, embs.where("vec_id < 10"), "vec_id", "embedding"
    )
    want = duck.sql(
        similarity.srp_lsh_topk_oracle_sql(
            "embeddings",
            "SELECT * FROM embeddings WHERE vec_id < 10",
            "vec_id",
            "embedding",
        )
    ).df()
    assert_frames_equal(got, want, ["q_id", "rank"])
    # ANN sanity: bucketed top-1 should agree with exact top-1 for most
    # queries (SRP with 8 planes on clustered vectors).
    exact = similarity.cosine_topk(
        embs, embs.where("vec_id < 10"), "vec_id", "embedding"
    ).where("rank = 1").toPandas()
    ann = got.toPandas()
    ann1 = ann[ann["rank"] == 1][["q_id", "n_id"]]
    merged = exact[["q_id", "n_id"]].merge(
        ann1, on="q_id", suffixes=("_exact", "_ann")
    )
    agree = (merged["n_id_exact"] == merged["n_id_ann"]).mean()
    assert agree >= 0.5, f"ANN top-1 agreement too low: {agree}"


def test_srp_lsh_pairs_parity_and_recall(embs, duck):
    got = similarity.srp_lsh_pairs(embs, "vec_id", "embedding")
    want = duck.sql(
        similarity.srp_lsh_pairs_oracle_sql("embeddings", "vec_id", "embedding")
    ).df()
    assert_frames_equal(got, want, ["id_a", "id_b"])
    # Recall vs the exact (brute-force) pair set: multi-table SRP on the
    # clustered test vectors should surface most true pairs.
    exact = (
        dedup.embedding_near_dup(embs, "vec_id", "embedding")
        .select("id_a", "id_b")
        .toPandas()
    )
    ann = got.select("id_a", "id_b").toPandas()
    if len(exact):
        key = lambda d: set(map(tuple, d.values))  # noqa: E731
        recall = len(key(ann) & key(exact)) / len(key(exact))
        assert recall >= 0.6, f"SRP pair recall too low: {recall}"
        # every surviving pair is exact-verified, so precision is 1
        assert key(ann) <= key(exact)


def test_ivf_topk_parity_and_recall(embs, duck):
    got = similarity.ivf_topk(
        embs, embs.where("vec_id < 10"), "vec_id", "embedding"
    )
    want = duck.sql(
        similarity.ivf_topk_oracle_sql(
            "embeddings",
            "SELECT * FROM embeddings WHERE vec_id < 10",
            "vec_id",
            "embedding",
        )
    ).df()
    assert_frames_equal(got, want, ["q_id", "rank"])
    # probing 4/16 lists on clustered vectors should still find the exact
    # top-1 for most queries
    exact = similarity.cosine_topk(
        embs, embs.where("vec_id < 10"), "vec_id", "embedding"
    ).where("rank = 1").toPandas()
    ivf1 = got.where("rank = 1").toPandas()[["q_id", "n_id"]]
    merged = exact[["q_id", "n_id"]].merge(
        ivf1, on="q_id", suffixes=("_exact", "_ivf")
    )
    agree = (merged["n_id_exact"] == merged["n_id_ivf"]).mean()
    assert agree >= 0.5, f"IVF top-1 agreement too low: {agree}"


def test_ivf_topk_parity_two_train_iters(embs, duck, monkeypatch):
    """Exercises the iterative k-means CTE chain (IVF_TRAIN_ITERS = 2) at
    a second geometry (top-3, 8 lists, 3 probes): both engines must
    derive bit-identical second-generation centroids."""
    monkeypatch.setattr(similarity, "TOPK_K", 3)
    monkeypatch.setattr(similarity, "IVF_CENTROIDS", 8)
    monkeypatch.setattr(similarity, "IVF_PROBE", 3)
    assert similarity.IVF_TRAIN_ITERS == 2
    got = similarity.ivf_topk(
        embs, embs.where("vec_id < 5"), "vec_id", "embedding"
    )
    want = duck.sql(
        similarity.ivf_topk_oracle_sql(
            "embeddings",
            "SELECT * FROM embeddings WHERE vec_id < 5",
            "vec_id",
            "embedding",
        )
    ).df()
    assert_frames_equal(got, want, ["q_id", "rank"])


def test_near_dup_clusters_parity(docs, duck):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text")
    got = dedup.near_dup_clusters(docs, "doc_id", pairs)
    want = duck.sql(
        dedup.near_dup_clusters_oracle_sql(
            "documents",
            "doc_id",
            dedup.minhash_lsh_pairs_oracle_sql("documents", "doc_id", "text"),
        )
    ).df()
    assert_frames_equal(got, want, ["id"])
    gp = got.toPandas()
    # every document labeled exactly once; canonical = min id per cluster
    assert len(gp) == docs.count()
    mins = gp.groupby("cluster_id")["id"].min()
    assert (mins.index == mins.values).all()
    canon = gp[gp["is_canonical"] == 1]
    assert set(canon["id"]) == set(gp["cluster_id"].unique())
    # paired docs share a cluster
    pp = pairs.select("id_a", "id_b").toPandas()
    lbl = dict(zip(gp["id"], gp["cluster_id"]))
    assert all(lbl[a] == lbl[b] for a, b in pp.values)


def test_language_id(docs, duck):
    got = text_ops.language_id(docs, "doc_id", "text")
    want = duck.sql(
        text_ops.language_id_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id"])


def test_language_id_known_samples(spark):
    rows = [
        (1, "the cat and the dog went to the market and it is raining"),
        (2, "der hund und die katze das ist nicht ein problem"),
        (3, "le chat et les chiens est dans la maison"),
        (4, "你好世界"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r["lang"]
        for r in text_ops.language_id(df, "doc_id", "text").collect()
    }
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr"
    assert out[4] == "zh"


def test_quality_score(docs, duck):
    got = text_ops.quality_score(docs, "doc_id", "text")
    want = duck.sql(
        text_ops.quality_score_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id"])


def test_fingerprints(docs, duck):
    got = text_ops.fingerprints(docs, "doc_id", "text")
    want = duck.sql(
        text_ops.fingerprints_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id"])


def test_media_features(docs, duck):
    media = multimodal.attach_media(docs, "doc_id", "text")
    got = multimodal.extract_media_features(media)
    want = duck.sql(
        multimodal.media_features_oracle_sql("documents", "doc_id", "text")
    ).df()
    assert_frames_equal(got, want, ["id"])
