"""Winnowing fingerprints: engine equality, the coverage guarantee, and
near-dup pair semantics.

The executable spec is ``_winnow_py`` (the pandas kernel); the sql
engine and the DuckDB gate oracle replay the same plan with built-ins.
"""

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.winnow import (
    _winnow_py,
    winnow_fingerprints,
    winnow_pairs,
)

K, W = 5, 4


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_engines_agree_on_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = set(
        map(tuple, winnow_fingerprints(docs, engine="pandas").collect())
    )
    b = set(map(tuple, winnow_fingerprints(docs, engine="sql").collect()))
    assert a == b
    assert len(a) > 0


def test_matches_python_spec(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = docs.select("doc_id", "text").collect()
    expect = {
        (r["doc_id"], fp)
        for r in rows
        for fp in _winnow_py(r["text"], K, W)
    }
    got = set(
        map(
            tuple,
            winnow_fingerprints(docs, k=K, window=W, engine="pandas").collect(),
        )
    )
    assert got == expect


def test_coverage_guarantee(spark):
    # any shared token run of length >= window + k - 1 (= 8 here) must
    # yield at least one shared fingerprint — the winnowing theorem
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, "seven eight " + shared + " nine ten eleven twelve"),
    ]
    fps = winnow_fingerprints(_docs(spark, rows), k=K, window=W)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2]


def test_short_and_empty_docs(spark):
    rows = [
        (1, "just three tokens"),  # < k -> one whole-text gram
        (2, ""),
        (3, None),
        (4, "just three tokens"),
    ]
    fps = winnow_fingerprints(_docs(spark, rows), k=K, window=W)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert len(by_doc.get(1, set())) == 1
    assert by_doc[1] == by_doc[4]  # deterministic, content-defined
    assert 2 not in by_doc and 3 not in by_doc


def test_identical_docs_jaccard_one(spark):
    text = " ".join(f"tok{i % 13}" for i in range(60))
    other = " ".join(f"other{i % 11}" for i in range(60))
    rows = [(1, text), (2, text), (3, other)]
    pairs = winnow_pairs(_docs(spark, rows), threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_pairs_match_exact_set_jaccard(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in winnow_pairs(docs, threshold=0.3).collect()
    }
    # brute-force spec: python winnow sets, all-pairs jaccard
    rows = docs.select("doc_id", "text").collect()
    sets = {r["doc_id"]: set(_winnow_py(r["text"], K, W)) for r in rows}
    ids = sorted(sets)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if not sets[a] or not sets[b]:
                continue
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.3:
                expect[(a, b)] = round(j, 9)
    assert got == expect
    assert expect  # the corpus actually contains near-dups


def test_bucket_cap_is_nonsilent_drop(spark):
    # 30 identical docs -> every fingerprint bucket has 30 rows; a cap
    # of 10 drops them all, so no pairs survive (audited, not wrong)
    text = " ".join(f"tok{i % 7}" for i in range(40))
    rows = [(i, text) for i in range(30)]
    pairs = winnow_pairs(_docs(spark, rows), max_bucket_size=10)
    assert pairs.count() == 0
    full = winnow_pairs(_docs(spark, rows), max_bucket_size=None)
    assert full.count() == 30 * 29 // 2


def test_pandas_engine_has_no_exchange(spark):
    # with input parallelism already adequate (so _ensure_parallelism is
    # a no-op), the scale path adds NO exchange — fingerprinting is a
    # pure per-row map + explode
    docs = (
        spark.range(0, 1000, 1, 16)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(30)),
                    lambda i: F.concat(F.lit("w"), F.pmod(F.col("doc_id") * 7 + i, F.lit(50))),
                ),
            ),
        )
    )
    plan = (
        winnow_fingerprints(docs, engine="pandas")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


@pytest.mark.parametrize(
    "n_tokens", [0, 1, 4, 5, 8, 9, 20]
)
def test_window_count_spec(n_tokens):
    text = " ".join(f"w{i}" for i in range(n_tokens))
    fps = _winnow_py(text, K, W)
    if n_tokens == 0:
        assert fps == []
    else:
        g = max(n_tokens - K + 1, 1)
        assert 1 <= len(fps) <= max(g - W + 1, 1)


def test_winnow_decontaminate(spark):
    from syslog_ng_spark.operators.winnow import winnow_decontaminate

    passage = " ".join(f"leak{i}" for i in range(8))  # window+k-1 = 8
    corpus = _docs(
        spark,
        [
            (1, "clean words all the way through here with many tokens"),
            (2, "prefix stuff " + passage + " suffix stuff here"),
            (3, "another clean one nothing shared at all today"),
        ],
    )
    bench = spark.createDataFrame(
        [(100, "eval question contains " + passage + " verbatim")],
        "doc_id long, text string",
    )
    clean = winnow_decontaminate(corpus, bench)
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]
    audited = winnow_decontaminate(corpus, bench, keep=True)
    rows = {r["doc_id"]: r for r in audited.collect()}
    assert rows[2]["contaminated"] is True and rows[2]["n_shared_fps"] >= 1
    assert rows[1]["contaminated"] is False and rows[1]["n_shared_fps"] == 0


def test_winnow_decontaminate_broadcasts_benchmark(spark):
    from syslog_ng_spark.operators.winnow import winnow_decontaminate

    corpus = _docs(spark, [(i, f"doc {i} body text here now") for i in range(50)])
    bench = spark.createDataFrame(
        [(1, "tiny eval set")], "doc_id long, text string"
    )
    plan = (
        winnow_decontaminate(corpus, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
