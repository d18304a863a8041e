"""Repetition signals (operators/repetition.py) vs a hand-computed
Python oracle implementing the documented formulas exactly."""

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.repetition import (
    gopher_repetition_filter,
    repetition_stats,
)


def _py_stats(text, top_n=2, dup_n=3):
    # line family
    lines = [l for l in text.split("\n") if l.strip() != ""]
    lc = {}
    for l in lines:
        lc[l] = lc.get(l, 0) + 1
    tot = sum(lc.values())
    tot_chars = sum(c * len(l) for l, c in lc.items())
    dup_line_frac = (
        sum(c for c in lc.values() if c > 1) / tot if tot else 0.0
    )
    dup_line_char_frac = (
        sum(c * len(l) for l, c in lc.items() if c > 1) / tot_chars
        if tot_chars
        else 0.0
    )

    def gram_counts(n):
        tk = [t for t in text.lower().split() if t]
        gc = {}
        for i in range(len(tk) - n + 1):
            g = " ".join(tk[i : i + n])
            gc[g] = gc.get(g, 0) + 1
        return gc

    n_chars = len(text)
    gc = gram_counts(top_n)
    if gc and n_chars:
        # max count, longest gram among ties (mirrors max(struct(c, len)))
        c, l = max((c, len(g)) for g, c in gc.items())
        top_frac = min(1.0, c * l / n_chars)
    else:
        top_frac = 0.0
    gd = gram_counts(dup_n)
    tot_mass = sum(c * len(g) for g, c in gd.items())
    dup_frac = (
        sum(c * len(g) for g, c in gd.items() if c > 1) / tot_mass
        if tot_mass
        else 0.0
    )
    return (dup_line_frac, dup_line_char_frac, top_frac, dup_frac)


DOCS = [
    (1, "alpha beta\nalpha beta\ngamma delta"),  # one duplicated line
    (2, "a b a b a b a b"),  # heavy 2-gram repetition
    (3, "all distinct words here now"),
    (4, "x\nx\nx\nx"),  # everything duplicated
    (5, ""),  # empty
    (6, "tok"),  # single token, no grams
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_matches_python_oracle(docs):
    out = repetition_stats(docs, top_ns=(2,), dup_ns=(3,))
    got = {
        r["doc_id"]: (
            round(r["dup_line_frac"], 9),
            round(r["dup_line_char_frac"], 9),
            round(r["top_2gram_char_frac"], 9),
            round(r["dup_3gram_char_frac"], 9),
        )
        for r in out.collect()
    }
    for did, text in DOCS:
        want = tuple(round(v, 9) for v in _py_stats(text, 2, 3))
        assert got[did] == want, (did, got[did], want)


def test_matches_python_oracle_on_boilerplate_corpus(spark):
    """A corpus with planted line + n-gram repetition, every
    (top_n, dup_n) pair against the Python reference: identical doubles."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(60):
        body = " ".join(rng.choice(words) for _ in range(rng.randint(0, 80)))
        boiler = "all rights reserved click here to subscribe"
        text = "\n".join([body[:50], boiler, body[20:70], boiler])
        rows.append((d, text))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for top_n in (2, 3):
        for dup_n in (3, 5):
            cols = [
                "doc_id", "dup_line_frac", "dup_line_char_frac",
                f"top_{top_n}gram_char_frac", f"dup_{dup_n}gram_char_frac",
            ]
            out = repetition_stats(docs, top_ns=(top_n,), dup_ns=(dup_n,))
            got = {r[0]: tuple(r[1:]) for r in out.select(cols).collect()}
            want = {d: _py_stats(text, top_n, dup_n) for d, text in rows}
            assert got == want, (top_n, dup_n)


def test_arrow_engine_is_zero_shuffle(docs):
    plan = (
        repetition_stats(docs, top_ns=(2,), dup_ns=(3, 5))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_output_preserves_input_rows_and_columns(docs):
    out = repetition_stats(docs, top_ns=(2,), dup_ns=(3,))
    assert out.count() == len(DOCS)
    for c in ["doc_id", "text"]:
        assert c in out.columns


def test_multiple_ns(docs):
    out = repetition_stats(docs, top_ns=(2, 3), dup_ns=(3, 4))
    cols = set(out.columns)
    assert {
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "dup_3gram_char_frac",
        "dup_4gram_char_frac",
    } <= cols
    # no working columns leak
    assert not [c for c in cols if c.startswith("_")]


def test_gopher_filter_drops_repetitive_docs(docs):
    kept = gopher_repetition_filter(
        docs,
        max_dup_line_frac=0.30,
        max_dup_line_char_frac=0.30,
        max_top_ngram_char_frac={2: 0.70},
        max_dup_ngram_char_frac={3: 0.50},
    )
    ids = sorted(r["doc_id"] for r in kept.collect())
    # doc 2 (top 2-gram 0.8, dup 3-gram 1.0) and doc 4 (all lines
    # duplicated) exceed thresholds; doc 1's duplicated line (2/3 of
    # lines) exceeds 0.30; doc 3 (top 2-gram 0.52 on ties-by-length)
    # stays under 0.70
    assert ids == [3, 5, 6]
    assert kept.columns == docs.columns
