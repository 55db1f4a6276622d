"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst column expressions (JVM-side, whole-stage codegen — no
Python in the hot path): language-ID (stopword-ratio heuristic), quality
scoring, token counting, document fingerprinting. Each has an exact ANSI-SQL
twin in __spark_entry__.oracle_sql() so DuckDB verifies values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from excelastic_spark.tokenizer import SPLIT_PATTERN

# small public stopword heads per language (heuristic language ID)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans"],
}


def tokens_col(text: Column) -> Column:
    """Array of tokens under the engine's analyzer (tokenizer.py), as a
    Catalyst expression: split on the complement class, drop empties.
    Spark's ``lower`` maps U+0130 to ``i`` + U+0307, so it is mapped to
    ``I`` first, as the engine's one-to-one lowercase does."""
    return F.filter(
        F.split(F.lower(F.translate(text, "\u0130", "I")), SPLIT_PATTERN),
        lambda x: x != "",
    )


def token_count(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def _stopword_hits(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (n-gram-free heuristic language ID;
    the classic stopword-profile method, McNamee & Mayfield 2004)."""
    toks = tokens_col(text)
    return {lang: _stopword_hits(toks, lang) for lang in STOPWORDS}


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; ties broken toward the
    lexicographically smaller language name (deterministic); 'und'
    (undetermined) when no stopword matches. The oracle SQL encodes the
    identical tie-break with nested CASE."""
    scores = lang_scores(text)
    pairs = sorted(scores.items(), reverse=True)  # process desc, so the
    # last (lexicographically smallest) lang overwrites on >= ties
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, s in pairs:
        cond = (s >= best_score) & (s > 0)
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality features: token count, mean token length,
    stopword ratio, alpha ratio — the standard cheap quality filters used
    in web-scale corpus pipelines (Gopher/C4-style rules, public)."""
    t = F.col(text_col)
    toks = tokens_col(t)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    sw_hits = _stopword_hits(toks, "en").cast("long")
    return df.select(
        "*",
        n_tokens.alias("n_tokens"),
        n_chars.alias("q_chars"),
        tok_chars.alias("tok_chars"),
        sw_hits.alias("sw_hits"),
    )


def quality_score_e6(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score scaled to integer e6 (engine and oracle agree
    bit-for-bit on integers; float ratios are rounded identically):
      0.4 * min(n_tokens,256)/256 + 0.4 * sw_ratio + 0.2 * alpha_ratio
    """
    feats = quality_features(df, text_col)
    n_tok = F.col("n_tokens").cast("double")
    sw_ratio = F.when(n_tok > 0, F.col("sw_hits") / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        F.col("q_chars") > 0, F.col("tok_chars") / F.col("q_chars").cast("double")
    ).otherwise(F.lit(0.0))
    len_score = F.least(n_tok, F.lit(256.0)) / F.lit(256.0)
    score = (
        F.lit(0.4) * len_score + F.lit(0.4) * sw_ratio + F.lit(0.2) * alpha_ratio
    )
    return feats.withColumn(
        "quality_e6", F.floor(score * 1e6 + F.lit(0.5)).cast("long")
    )


def doc_fingerprint(text: Column) -> Column:
    """Content-defined fingerprint: md5 of the analyzer-normalized token
    stream (lowercase, single-space-joined). Whitespace/punctuation
    variations of the same token stream collide -> near-dup canonicalizer."""
    return F.md5(F.array_join(tokens_col(text), " "))


_M56 = 0xFFFFFFFFFFFFFF  # keep the accumulator in 61 bits: rotate-left-5


def rolling_fingerprint(text: Column) -> Column:
    """61-bit rolling hash (rotate-xor fold over the normalized token
    stream's character codes) — an order-sensitive content fingerprint
    computable identically in ANSI SQL (the DuckDB oracle uses the same
    rotate/mask/xor fold, bit-for-bit). All values stay positive so
    logical vs arithmetic right-shift differences between engines never
    appear."""
    norm = F.array_join(tokens_col(text), " ")
    nums = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    fold = F.aggregate(
        nums,
        F.lit(0).cast("long"),
        lambda acc, c: (
            F.shiftleft(acc.bitwiseAND(F.lit(_M56)), 5)
            .bitwiseOR(F.shiftrightunsigned(acc, 56))
        ).bitwiseXOR(c),
    )
    return F.when(F.length(norm) == 0, F.lit(0).cast("long")).otherwise(fold)
