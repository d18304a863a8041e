"""Text analysis for corpus curation: language ID, quality scoring,
token counting, document fingerprinting. All pure Column expressions —
these run inside the scan's whole-stage-codegen, no UDF, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword heuristic.
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on", "with", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "une", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "una", "para", "en"],
}


def tokens(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), r"[^\p{L}\p{N}_]+"), lambda t: t != "")


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(c: Column) -> Column:
    """BPE-ish proxy: count word pieces + digits + punctuation runs —
    a deterministic stand-in for a real tokenizer's token count."""
    pieces = F.regexp_extract_all(
        c, F.lit(r"[A-Za-z]{1,6}|\d|[^\sA-Za-z\d]"), 0
    )
    return F.size(pieces)


def _tokens_or_empty(c: Column) -> Column:
    """``tokens`` with NULL text as no tokens: an aggregate over a NULL
    array is NULL, which would skip the finish lambda's defaults."""
    return F.coalesce(tokens(c), F.array().cast("array<string>"))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    """Single-pass formulation: HOF lambdas have no codegen CSE, so the
    old ``size(filter(toks))/size(toks)`` re-evaluated the tokenizer
    regex per reference; one ``aggregate`` with a finish lambda
    tokenizes exactly once per row (same values: count of stopword
    tokens over token count, 0.0 for token-less or NULL text)."""
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    return F.aggregate(
        _tokens_or_empty(c),
        F.struct(F.lit(0).alias("sw"), F.lit(0).alias("n")),
        lambda acc, t: F.struct(
            (acc["sw"] + F.when(F.array_contains(sw, t), 1).otherwise(0)).alias("sw"),
            (acc["n"] + 1).alias("n"),
        ),
        lambda acc: F.when(acc["n"] > 0, acc["sw"] / acc["n"]).otherwise(F.lit(0.0)),
    )


def lang_id(c: Column) -> Column:
    """Stopword-vote language guess across the built-in sets; 'und' when
    nothing votes (short/non-text/NULL input).

    Single aggregate pass: all four languages' votes accumulate in one
    struct over one tokenization, and the argmax chain (later language
    wins only on a STRICTLY greater score — dict order en/de/fr/es, as
    before) runs in the finish lambda over the bound accumulator, so
    nothing is re-evaluated."""
    arrays = {
        lang: F.array(*[F.lit(w) for w in words])
        for lang, words in _STOPWORDS.items()
    }
    init = F.struct(*[F.lit(0).alias(lang) for lang in _STOPWORDS])

    def merge(acc, t):
        return F.struct(
            *[
                (
                    acc[lang]
                    + F.when(F.array_contains(arrays[lang], t), 1).otherwise(0)
                ).alias(lang)
                for lang in _STOPWORDS
            ]
        )

    def finish(acc):
        out = F.lit("und")
        cur = F.lit(0)
        for lang in _STOPWORDS:
            out = F.when(acc[lang] > cur, F.lit(lang)).otherwise(out)
            cur = F.greatest(cur, acc[lang])
        return out

    return F.aggregate(_tokens_or_empty(c), init, merge, finish)


def quality_score(c: Column, lang: str = "en") -> Column:
    """Composite [0,1] quality: length band + punct sanity + stopword
    presence + mean word length band. Deterministic, documented weights."""
    n_chars = F.length(c)
    toks = tokens(c)
    n_toks = F.size(toks)
    mean_wl = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    punct = F.size(F.filter(F.split(c, ""), lambda ch: ch.rlike(r"[!?.,;:]")))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    sw = stopword_ratio(c, lang)

    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), 1.0).otherwise(
        F.when(n_chars > 0, 0.5).otherwise(0.0)
    )
    punct_ok = F.when(punct_ratio <= 0.2, 1.0).otherwise(0.3)
    sw_ok = F.when(sw >= 0.05, 1.0).otherwise(0.4)
    wl_ok = F.when((mean_wl >= 3) & (mean_wl <= 12), 1.0).otherwise(0.5)
    return F.round(0.3 * len_ok + 0.2 * punct_ok + 0.3 * sw_ok + 0.2 * wl_ok, 4)


def fingerprint(c: Column) -> Column:
    """Deterministic 64-bit document fingerprint (rolling-hash analogue):
    xxhash64 of the normalized text — content-defined identity for exact
    dedup, lineage, and resume markers."""
    return F.xxhash64(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def add_textstats(df: DataFrame, text_col: str = "text", lang: str = "en") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens", token_count(c))
        .withColumn("n_bpe_tokens", bpe_ish_token_count(c))
        .withColumn("lang_guess", lang_id(c))
        .withColumn("quality", quality_score(c, lang))
        .withColumn("fingerprint", fingerprint(c))
    )
