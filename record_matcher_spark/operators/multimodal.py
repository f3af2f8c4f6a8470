"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

Training corpora carry image/audio/video next to text. This module makes
the SPARK-side plumbing real — schema, Arrow batching, partitioning,
``mapInPandas`` UDF signatures — while the codec step is a deterministic
fake (no image/audio decoder is a dependency):

- ``attach_media``            text -> (media binary, media_meta struct);
                              deterministic, so tests/oracles can verify
- ``extract_media_features``  mapInPandas over Arrow batches computing
                              deterministic byte-level features (length,
                              first/last byte, polynomial byte hash) — the
                              same numbers the DuckDB oracle derives from
                              the source text, giving an exact driver check
                              of the whole binary pipeline

Scale notes: binary payloads ride the normal columnar path (Parquet binary
+ Arrow); ``maxRecordsPerBatch`` bounds worker memory; feature extraction
is embarrassingly parallel (no shuffle). Real decoders drop into
``_FEATURE_FNS`` without touching the plumbing.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from record_matcher_spark.functions.texthash import BASE, P

FEATURE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(LongType())),
    ]
)


def attach_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> [id, media binary, media_meta struct] — deterministic fake
    payload (UTF-8 bytes of the text) standing in for an image/audio blob;
    the decode/feature plumbing downstream treats it as opaque bytes."""
    media = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("id"),
        media.alias("media"),
        F.struct(
            F.lit("fake/text-bytes").alias("kind"),
            F.octet_length(media).cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )


def _byte_features(buf: bytes) -> list[int]:
    """Deterministic stand-in features: [n_bytes, first, last, poly_hash].
    poly_hash matches functions/texthash.poly_hash_expr over the byte
    values, so the DuckDB oracle reproduces it from the source text."""
    h = 0
    for b in buf:
        h = (h * BASE + b) % P
    if buf:
        return [len(buf), buf[0], buf[-1], h]
    return [0, -1, -1, 0]


_FEATURE_FNS = {"fake/text-bytes": _byte_features}


def extract_media_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over [id, media, media_meta].

    ``mapInPandas``: each batch arrives as a pandas DataFrame (binary ->
    Python bytes); per-kind feature fns run vectorized per batch. Output
    schema is fixed (FEATURE_SCHEMA) — the contract a real image/audio
    extractor must keep.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            kinds = pdf["media_meta"].map(lambda m: m["kind"])
            feats = [
                _FEATURE_FNS[k](bytes(buf))
                for k, buf in zip(kinds, pdf["media"])
            ]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "kind": kinds,
                    "n_bytes": pdf["media_meta"].map(
                        lambda m: m["n_bytes"]
                    ),
                    "features": feats,
                }
            )

    return media_df.mapInPandas(extract, FEATURE_SCHEMA)


def media_features_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    """DuckDB twin derives the byte features from the source text (ASCII
    corpus: code points == UTF-8 bytes; the poly hash is texthash's)."""
    codes = (
        f"list_transform(regexp_split_to_array({text_col}, ''), "
        "c -> CAST(ord(c) AS BIGINT))"
    )
    poly = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), codes), "
        f"(acc, c) -> (acc * {BASE} + c) % {P})"
    )
    return f"""
WITH src AS (
  SELECT {id_col} AS id, {text_col} AS txt, {codes} AS codes FROM {table}
)
SELECT id, 'fake/text-bytes' AS kind,
  CAST(length(txt) AS BIGINT) AS n_bytes,
  CASE WHEN length(txt) > 0
    THEN [CAST(length(txt) AS BIGINT), codes[1], codes[-1], {poly}]
    ELSE [CAST(0 AS BIGINT), -1, -1, 0] END AS features
FROM src
"""
