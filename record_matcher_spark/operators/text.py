"""Text-analysis operators for training-data curation.

Not in the reference (which only compares strings pairwise,
matcher.py:74-89); mandated by the training-data-pipeline scope:

- ``language_id``      stopword/charset n-gram heuristic
- ``quality_score``    length / punctuation / stopword / digit ratios
- ``fingerprints``     winnowing-style rolling-hash document fingerprint

All pure Catalyst expressions (whole-stage codegen, no Python), each with
a DuckDB oracle twin built from the same literals so the driver's value
hashes agree. Ratios are rounded to 6 dp at the boundary (FP parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from record_matcher_spark.functions import texthash as TH

# Tiny per-language stopword profiles (public knowledge). The heuristic
# scores each language by how many profile words occur in the token set;
# 'zh' additionally triggers on any CJK code point.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "you", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "dans"),
    "es": ("el", "los", "de", "las", "y", "que", "en", "un", "una", "por"),
}

def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> [id, lang, lang_score]: argmax stopword-hit count, ties broken
    by language code ascending; any CJK char forces 'zh'; no hits at all
    -> 'und'.

    PURE PROJECTION — the argmax runs inside one row expression
    (``array_max`` over (score, -profile_index, lang) structs: struct
    comparison is field-wise, so the max has the highest score and, on
    ties, the lowest profile index = lexicographically first language).
    No explode, no window, no shuffle — embarrassingly parallel at any
    scale. The DuckDB oracle keeps an explode+window formulation; only
    values must agree."""
    toks = F.array_distinct(TH.tokens_expr(F.col(text_col)))
    scored = df.select(
        F.col(id_col).alias("id"),
        toks.alias("_toks"),
        # any code point in the CJK unified block?
        F.exists(
            F.transform(F.split(F.col(text_col), ""), F.ascii),
            lambda c: (c >= 0x4E00) & (c <= 0x9FFF),
        ).alias("_cjk"),
    )
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.size(
                        F.array_intersect(
                            "_toks", F.array(*[F.lit(w) for w in words])
                        )
                    ).alias("s"),
                    F.lit(-i).alias("ni"),
                    F.lit(lang).alias("l"),
                )
                for i, (lang, words) in enumerate(sorted(LANG_PROFILES.items()))
            ]
        )
    )
    return scored.select(
        "id",
        F.when(F.col("_cjk"), F.lit("zh"))
        .when(best["s"] > 0, best["l"])
        .otherwise(F.lit("und"))
        .alias("lang"),
        best["s"].cast("long").alias("lang_score"),
    )


def language_id_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    toks = f"list_distinct({TH.tokens_sql(text_col)})"
    unions = "\n    UNION ALL\n    ".join(
        (
            "SELECT id, _cjk, '{lang}' AS l, len(list_intersect(_toks, "
            "[{words}])) AS s FROM scored"
        ).format(
            lang=lang, words=", ".join(f"'{w}'" for w in words)
        )
        for lang, words in sorted(LANG_PROFILES.items())
    )
    return f"""
WITH scored AS (
  SELECT {id_col} AS id, {toks} AS _toks,
    len(list_filter(list_transform(regexp_split_to_array({text_col}, ''),
        c -> ord(c)), c -> c >= {0x4E00} AND c <= {0x9FFF})) > 0 AS _cjk
  FROM {table}
), ex AS (
    {unions}
), best AS (
  SELECT id, _cjk, l, s,
         row_number() OVER (PARTITION BY id ORDER BY s DESC, l ASC) AS rn
  FROM ex
)
SELECT id,
  CASE WHEN _cjk THEN 'zh' WHEN s > 0 THEN l ELSE 'und' END AS lang,
  CAST(s AS BIGINT) AS lang_score
FROM best WHERE rn = 1
"""


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> [id, n_chars, n_tokens, mean_token_len, punct_ratio, digit_ratio,
    stopword_ratio, quality]. ``quality`` in [0, 1] blends the classic
    corpus-filtering signals (length band, punctuation/digit load,
    stopword density). Pure projection — trivially partition-parallel."""
    t = F.col(text_col)
    toks = TH.tokens_expr(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = F.size(
        F.filter(
            F.transform(F.split(t, ""), F.ascii),
            lambda c: ((c >= 33) & (c <= 47))
            | ((c >= 58) & (c <= 64))
            | ((c >= 91) & (c <= 96))
            | ((c >= 123) & (c <= 126)),
        )
    )
    n_digit = F.size(
        F.filter(
            F.transform(F.split(t, ""), F.ascii),
            lambda c: (c >= 48) & (c <= 57),
        )
    )
    en = LANG_PROFILES["en"]
    n_stop = F.size(
        F.filter(toks, lambda tok: tok.isin(*en))
    )
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    mean_tok = TH.q6_expr(
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, tok: a + F.length(tok)
        )
        / safe_tokens
    )
    punct_ratio = TH.q6_expr(n_punct / safe_chars)
    digit_ratio = TH.q6_expr(n_digit / safe_chars)
    stop_ratio = TH.q6_expr(n_stop / safe_tokens)
    len_component = F.least(n_tokens.cast("double") / 20.0, F.lit(1.0))
    quality = TH.q6_expr(
        F.greatest(
            F.lit(0.0),
            F.least(
                F.lit(1.0),
                0.4 * len_component
                + 0.3 * (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0)))
                + 0.2 * (1.0 - F.least(digit_ratio * 4.0, F.lit(1.0)))
                + 0.1 * F.least(stop_ratio * 5.0, F.lit(1.0)),
            ),
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        mean_tok.alias("mean_token_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def quality_score_oracle_sql(table: str, id_col: str, text_col: str) -> str:
    toks = TH.tokens_sql(text_col)
    codes = (
        f"list_transform(regexp_split_to_array({text_col}, ''), c -> ord(c))"
    )
    en = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    return f"""
WITH base AS (
  SELECT {id_col} AS id, length({text_col}) AS n_chars,
    len({toks}) AS n_tokens,
    len(list_filter({codes}, c -> (c BETWEEN 33 AND 47)
        OR (c BETWEEN 58 AND 64) OR (c BETWEEN 91 AND 96)
        OR (c BETWEEN 123 AND 126))) AS n_punct,
    len(list_filter({codes}, c -> c BETWEEN 48 AND 57)) AS n_digit,
    len(list_filter({toks}, t -> t IN ({en}))) AS n_stop,
    list_sum(list_prepend(CAST(0 AS BIGINT),
        list_transform({toks}, t -> CAST(length(t) AS BIGINT)))) AS tok_chars
  FROM {table}
), r AS (
  SELECT id, n_chars, n_tokens,
    {TH.q6_sql('tok_chars / CAST(greatest(n_tokens, 1) AS DOUBLE)')}
      AS mean_token_len,
    {TH.q6_sql('n_punct / CAST(greatest(n_chars, 1) AS DOUBLE)')}
      AS punct_ratio,
    {TH.q6_sql('n_digit / CAST(greatest(n_chars, 1) AS DOUBLE)')}
      AS digit_ratio,
    {TH.q6_sql('n_stop / CAST(greatest(n_tokens, 1) AS DOUBLE)')}
      AS stopword_ratio,
    least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) AS len_component
  FROM base
)
SELECT id, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(n_tokens AS BIGINT) AS n_tokens, mean_token_len, punct_ratio,
  digit_ratio, stopword_ratio,
  {TH.q6_sql('''greatest(0.0, least(1.0,
    0.4 * len_component
    + 0.3 * (1.0 - least(punct_ratio * 4.0, 1.0))
    + 0.2 * (1.0 - least(digit_ratio * 4.0, 1.0))
    + 0.1 * least(stopword_ratio * 5.0, 1.0)))''')} AS quality
FROM r
"""


# Word-shingle length and fingerprint width shared by ``fingerprints`` and
# its DuckDB twin.
FINGERPRINT_SHINGLE_K = 3
FINGERPRINT_KEEP = 4


def fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Winnowing-style document fingerprint: the ``FINGERPRINT_KEEP``
    smallest distinct word-shingle rolling hashes, ascending, plus a
    whole-document hash. Near-identical documents share fingerprint
    elements (used as a cheap pre-cluster key); the whole-doc hash is the
    exact-dup key."""
    th = TH.token_hashes_expr(F.col(text_col))
    sh = TH.shingle_hashes_expr(th, FINGERPRINT_SHINGLE_K)
    return df.select(
        F.col(id_col).alias("id"),
        F.slice(F.array_sort(F.array_distinct(sh)), 1, FINGERPRINT_KEEP).alias(
            "fingerprint"
        ),
        TH.poly_hash_expr(th).alias("doc_hash"),
    )


def fingerprints_oracle_sql(
    table: str, id_col: str, text_col: str
) -> str:
    th = TH.token_hashes_sql(text_col)
    sh = TH.shingle_hashes_sql("th", FINGERPRINT_SHINGLE_K)
    return f"""
WITH t AS (SELECT {id_col} AS id, {th} AS th FROM {table})
SELECT id,
  list_sort(list_distinct({sh}))[1:{FINGERPRINT_KEEP}] AS fingerprint,
  {TH.poly_hash_sql('th')} AS doc_hash
FROM t
"""
