"""Repetition signals for training-data quality filtering (the
"Gopher rules" family: Rae et al. 2021, table A1 — duplicate-line
fractions and n-gram repetition fractions).

Signals per document:
  - ``dup_line_frac``        occurrences of duplicated lines / lines
  - ``dup_line_char_frac``   chars in duplicated lines / line chars
  - ``top_{n}gram_char_frac``  chars covered by the single most frequent
                               word n-gram (count × gram length) / chars
  - ``dup_{n}gram_char_frac``  char mass of word n-grams occurring more
                               than once / char mass of ALL n-grams
                               (mass = count × gram length)

Documented divergence from the paper: the dup-n-gram fraction is the
duplicated share of total n-gram char MASS rather than the paper's
positional "characters covered by" — overlapping grams double-count in
both numerator and denominator, so the ratio stays a true [0, 1]
fraction without clamping (dividing the overlap-inflated mass by
text length, as a literal reading of the paper suggests, saturates at
1.0 on any boilerplate-heavy document and destroys the signal). The
ordering of documents by repetition is preserved; the formula is
exactly reproducible in one SQL aggregate, which is what makes the
gate oracle possible.

Spark shape (100-TB-ready): every signal is DOCUMENT-LOCAL, so all of
them come from ONE vectorized pandas-UDF pass — zero shuffles, zero
joins, per-task memory bounded by one document's distinct-gram set. A
pure-JVM explode → count-keyed groupBy → join-back formulation would
shuffle the corpus token mass once per n (PLANS.md item 18). The
independent checks are the Python reference in tests/test_repetition.py
and the gate's DuckDB oracle.

Reference framing: syslog-ng's closest analogue is grouping-by()'s
context aggregates (modules/grouping-by) — per-key bag statistics —
with the key being the document itself.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mirrors the JVM tokenizer (decontaminate.word_tokens) and the DuckDB
# oracle: Java \s is the ASCII class [ \t\n\x0B\f\r] (NOT Unicode-aware
# like Python's \s), so spell it out.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _doc_signals(
    text: str | None,
    top_ns: tuple[int, ...],
    dup_ns: tuple[int, ...],
    all_ns: tuple[int, ...],
) -> list[float]:
    """All repetition fractions for one document, exactly mirroring the
    DuckDB-oracle arithmetic (same tie-breaks, same
    integer→double divisions)."""
    out = []
    if not text:
        return [0.0] * (2 + len(top_ns) + len(dup_ns))

    # line family: split on \n, keep lines with any non-space char
    # (Spark trim() strips 0x20 only — use strip(' '), not strip()).
    lc = Counter(l for l in text.split("\n") if l.strip(" ") != "")
    tot = sum(lc.values())
    tot_chars = sum(c * len(l) for l, c in lc.items())
    out.append(sum(c for c in lc.values() if c > 1) / tot if tot else 0.0)
    out.append(
        sum(c * len(l) for l, c in lc.items() if c > 1) / tot_chars
        if tot_chars
        else 0.0
    )

    n_chars = len(text)
    toks = [t for t in _JAVA_WS.split(text.lower()) if t]
    tops: dict[int, float] = {}
    dups: dict[int, float] = {}
    for n in all_ns:
        if len(toks) < n:
            tops[n] = 0.0
            dups[n] = 0.0
            continue
        # gram identity = the token window; gram length = the length of
        # the space-joined string: sum(len(tok)) + (n - 1) separators
        gc = Counter(zip(*(toks[i:] for i in range(n))))
        if n in top_ns:
            c, gl = max(
                (c, sum(map(len, g)) + n - 1) for g, c in gc.items()
            )
            tops[n] = min(1.0, c * gl / n_chars) if n_chars else 0.0
        if n in dup_ns:
            tot_mass = dup_mass = 0
            for g, c in gc.items():
                gl = sum(map(len, g)) + n - 1
                tot_mass += c * gl
                if c > 1:
                    dup_mass += c * gl
            dups[n] = dup_mass / tot_mass if tot_mass else 0.0
    return out + [tops[n] for n in top_ns] + [dups[n] for n in dup_ns]


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Annotate ``df`` with per-document repetition fractions.

    Adds ``dup_line_frac``, ``dup_line_char_frac``, and per-n
    ``top_{n}gram_char_frac`` / ``dup_{n}gram_char_frac`` columns
    (doubles in [0, 1], 0.0 for empty/too-short documents) in one
    zero-shuffle vectorized pass.
    """
    top_ns = tuple(top_ns)
    dup_ns = tuple(dup_ns)
    all_ns = tuple(sorted(set(top_ns) | set(dup_ns)))
    names = (
        ["dup_line_frac", "dup_line_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns]
    )
    schema = ", ".join(f"{c} double" for c in names)

    def _batch(texts: pd.Series) -> pd.DataFrame:
        rows = [_doc_signals(t, top_ns, dup_ns, all_ns) for t in texts]
        return pd.DataFrame(rows, columns=names, dtype="float64")

    sig = F.pandas_udf(_batch, returnType=schema)
    out = df.withColumn("_rep", sig(F.col(text_col)))
    for c in names:
        out = out.withColumn(c, F.col("_rep")[c])
    return out.drop("_rep")


def gopher_repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_ngram_char_frac: dict[int, float] | None = None,
    max_dup_ngram_char_frac: dict[int, float] | None = None,
) -> DataFrame:
    """Drop documents exceeding the paper's repetition thresholds
    (defaults: Rae et al. 2021 table A1). Pass dicts {n: threshold} to
    override the per-n limits."""
    top = max_top_ngram_char_frac or {2: 0.20, 3: 0.18, 4: 0.16}
    dup = max_dup_ngram_char_frac or {
        5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10
    }
    stats = repetition_stats(
        df, text_col=text_col,
        top_ns=tuple(top), dup_ns=tuple(dup),
    )
    conds = [
        F.col("dup_line_frac") <= max_dup_line_frac,
        F.col("dup_line_char_frac") <= max_dup_line_char_frac,
    ]
    conds += [F.col(f"top_{n}gram_char_frac") <= t for n, t in top.items()]
    conds += [F.col(f"dup_{n}gram_char_frac") <= t for n, t in dup.items()]
    keep = reduce(lambda a, b: a & b, conds)
    extra = (
        ["dup_line_frac", "dup_line_char_frac"]
        + [f"top_{n}gram_char_frac" for n in top]
        + [f"dup_{n}gram_char_frac" for n in dup]
    )
    return stats.filter(keep).drop(*extra)
