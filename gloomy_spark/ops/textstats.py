"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All built-in expressions (JVM-side); every
constant is shared with the generated DuckDB oracle SQL."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG
from ..functions.text import tokens_col
from .hashing import md5_long_spark_sql

# marker token sets for the n-gram/stopword language heuristic
EN_MARKERS = ["the", "of", "and", "to", "in", "is", "that", "for", "it", "as"]
CS_MARKERS = ["a", "se", "na", "je", "že", "v", "si", "z", "do", "to"]
DE_MARKERS = ["der", "die", "das", "und", "ist", "von", "zu", "den", "mit", "für"]
CS_DIACRITICS = "[áčďéěíňóřšťúůýž]"
DE_CHARS = "[äöüß]"

# BPE-ish token regex: letter runs, digit runs, single other non-space
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[,.;?!:]"
STOPWORDS = EN_MARKERS  # quality scoring uses the en marker set


def _tokens(text: Column) -> Column:
    # the pinned engine tokenizer (drops empties AND ignore-strings)
    return tokens_col(text, DEFAULT_CONFIG)


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: diacritic evidence first (cs/de), else
    en-marker stopword ratio vs threshold → 'en' or 'unknown'.
    Deterministic, SQL-mirrorable, one scan, no shuffle."""
    lt = F.lower(F.col(text_col))
    cs_hits = F.size(F.regexp_extract_all(lt, F.lit(CS_DIACRITICS), 0))
    de_hits = F.size(F.regexp_extract_all(lt, F.lit(DE_CHARS), 0))
    toks = _tokens(F.col(text_col))
    en_arr = F.array(*[F.lit(w) for w in EN_MARKERS])
    en_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    n_toks = F.size(toks)
    pred = (
        F.when((cs_hits > 0) & (cs_hits >= de_hits), F.lit("cs"))
        .when(de_hits > cs_hits, F.lit("de"))
        .when((n_toks > 0) & (en_hits / n_toks >= 0.02), F.lit("en"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("pred_lang"),
        cs_hits.cast("int").alias("cs_hits"),
        de_hits.cast("int").alias("de_hits"),
        en_hits.cast("int").alias("en_hits"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality metrics + composite score (length, mean token
    length, stopword ratio, punctuation density). Single-scan, JVM-only."""
    toks = _tokens(F.col(text_col))
    n_toks = F.size(toks)
    n_chars = F.length(F.col(text_col))
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit(PUNCT_RE), 0))
    mean_tok_len = F.when(
        n_toks > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n_toks,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    # composite: in-range length band + natural stopword presence − symbol noise
    score = (
        F.when((n_toks >= 50) & (n_toks <= 2000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.5), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 10.0), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_toks.cast("int").alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(score, 4).alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting three ways: whitespace split, engine tokenizer,
    BPE-ish regex (subword-proxy for budget estimation)."""
    ws = F.size(F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != ""))
    engine = F.size(_tokens(F.col(text_col)))
    # NB: F.lit pattern, not F.expr — a '\\s' inside an expr string literal
    # is escape-eaten by the SQL parser and silently matches plain 's'
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), 0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.cast("int").alias("ws_tokens"),
        engine.cast("int").alias("engine_tokens"),
        bpe.cast("int").alias("bpe_tokens"),
    )


def fingerprint(docs: DataFrame, shingle_k: int = 5, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints: md5 of the normalized token stream (exact
    content identity modulo whitespace/punct) + min shingle hash (a 1-hash
    winnowing-style content sketch)."""
    from .dedup import shingles_col

    min_sh = f"array_min(transform(sh, s -> {md5_long_spark_sql('s')}))"
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.concat_ws(" ", _tokens(F.col(text_col)))).alias("content_md5"),
        shingles_col(F.col(text_col), shingle_k).alias("sh"),
    ).selectExpr(
        "doc_id", "content_md5", f"CASE WHEN size(sh) > 0 THEN {min_sh} END AS min_shingle_hash"
    )
