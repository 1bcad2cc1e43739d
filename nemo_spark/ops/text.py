"""Text-analysis operators for training-data pipelines, all Catalyst-side.

Language-ID (stopword n-gram heuristic), quality scoring (length / punctuation
/ stopword ratios), token counting, and rolling-hash document fingerprinting —
every operator is a pure DataFrame transform (whole-stage codegen, no Python),
so it scales linearly with input splits at 100 TB.

Tokenization contract (single source of truth for Spark AND the DuckDB
oracles, which import the SQL fragments below): text is trimmed, runs of
ANY whitespace (spaces, tabs, newlines) collapse to single spaces, and the
empty string yields ZERO tokens. Both engines' regexes are RE2, so the
patterns behave identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

_WS = r"\s+"
# explicit charset (not \W) so the per-token strip is a cheap character
# trim, never a per-token regex — measured 6x on the quality query
_EDGE_PUNCT_CHARS = ".,;:!?\"'()[]{}"


def normalized(text: Column) -> Column:
    """Whitespace-normalized text: whitespace runs collapsed to single
    spaces, then trimmed — the fingerprint base. Collapse BEFORE trim:
    trim() strips ASCII spaces only, so the reverse order leaves a residual
    edge space for leading/trailing tabs/newlines ('hello\\n' would
    fingerprint differently from 'hello')."""
    return F.trim(F.regexp_replace(text, _WS, " "))


def tokens(text: Column) -> Column:
    """Whitespace tokenization: split on whitespace RUNS, boundary empties
    dropped ('' => []). One regex pass per row; equals splitting
    :func:`normalized` text on single spaces."""
    return F.array_remove(F.split(text, _WS), "")


def _token_key(x: Column) -> Column:
    """Match key for word-list lookups: lowercase, edge punctuation stripped
    (sentence-initial 'The' and trailing 'the,' both count as 'the')."""
    return F.lower(F.btrim(x, F.lit(_EDGE_PUNCT_CHARS)))


def normalized_sql(col: str = "text") -> str:
    """DuckDB expression equal to :func:`normalized` ('g' = replace-all,
    matching Spark's always-global regexp_replace; collapse-then-trim order
    matches too)."""
    return f"trim(regexp_replace({col}, '{_WS}', ' ', 'g'))"


def tokens_sql(col: str = "text") -> str:
    """DuckDB expression equal to :func:`tokens`."""
    return f"list_filter(regexp_split_to_array({col}, '{_WS}'), x -> x <> '')"


def token_key_sql(x: str) -> str:
    """DuckDB expression equal to :func:`_token_key`."""
    chars = _EDGE_PUNCT_CHARS.replace("'", "''")
    return f"lower(trim({x}, '{chars}'))"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens / n_distinct_tokens (whitespace tokenization)."""
    t = tokens(F.col(text_col))
    return df.withColumn("n_tokens", F.size(t).cast("long")).withColumn(
        "n_distinct_tokens", F.size(F.array_distinct(t)).cast("long")
    )


def _with_stopword_counts(df: DataFrame, text_col: str) -> DataFrame:
    """n_tokens / n_stopwords via ONE token-array evaluation: the array
    lands in its own projection (Catalyst won't inline a non-cheap alias
    referenced twice), and downstream columns reference the NAMED counts so
    the split/trim trees are never duplicated into codegen."""
    t = F.col(text_col)
    keys = F.transform(tokens(t), lambda x: _token_key(x))
    return (
        df.withColumn("__keys", keys)
        .withColumn("n_tokens", F.size("__keys").cast("long"))
        .withColumn(
            "n_stopwords",
            F.size(F.filter(F.col("__keys"), lambda x: x.isin(*EN_STOPWORDS))).cast("long"),
        )
        .drop("__keys")
    )


def _ratio() -> Column:
    n_tok, n_stop = F.col("n_tokens"), F.col("n_stopwords")
    return F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality signals per document."""
    t = F.col(text_col)
    return (
        _with_stopword_counts(df, text_col)
        .withColumn("n_chars_actual", F.length(t).cast("long"))
        .withColumn("n_dots", (F.length(t) - F.length(F.replace(t, F.lit("."), F.lit("")))).cast("long"))
        .withColumn("stopword_ratio", _ratio())
    )


def langid_heuristic(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tiny deterministic language-ID: English stopword density threshold.
    (A real model would be an Arrow-batched UDF; the heuristic keeps the
    operator JVM-side and exactly reproducible.)

    Intermediates use __-prefixed temp names, NOT n_tokens/n_stopwords:
    this operator doesn't output the counts, and overwrite-then-drop would
    silently delete a caller's pre-existing columns of those names (e.g.
    ``langid_heuristic(token_counts(df))``)."""
    keys = F.transform(tokens(F.col(text_col)), lambda x: _token_key(x))
    n_tok, n_stop = F.col("__lt"), F.col("__ls")
    return (
        df.withColumn("__keys", keys)
        .withColumn("__lt", F.size("__keys").cast("long"))
        .withColumn(
            "__ls",
            F.size(F.filter(F.col("__keys"), lambda x: x.isin(*EN_STOPWORDS))).cast("long"),
        )
        .withColumn(
            "en_score",
            F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "pred_lang",
            F.when(F.col("en_score") >= 0.05, F.lit("en")).otherwise(F.lit("other")),
        )
        .drop("__keys", "__lt", "__ls")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 of the whitespace-normalized
    text (the exact-dedup key — 'a  b' and 'a\\tb' collide by design) + a
    64-bit rolling-style hash (xxhash64)."""
    norm = normalized(F.col(text_col))
    return df.withColumn("fp_md5", F.md5(F.encode(norm, "UTF-8"))).withColumn(
        "fp_xx64", F.xxhash64(norm)
    )
