"""dedup_keep_best: score-policy representative selection per cluster."""

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators.dedup import dedup_keep_best


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, score long")


def test_keeps_argmax_per_cluster(spark):
    # cluster {1,2,3} via chain (1-2, 2-3); 3 has the best score;
    # cluster {10,11}: tie on score -> min id wins; 20 is a singleton
    docs = _docs(
        spark,
        [
            (1, "a", 5), (2, "b", 9), (3, "c", 12),
            (10, "d", 7), (11, "e", 7),
            (20, "f", 1),
        ],
    )
    pairs = _pairs(spark, [(1, 2), (2, 3), (10, 11)])
    out = {
        r["doc_id"]: r["component"]
        for r in dedup_keep_best(docs, pairs, score_col="score").collect()
    }
    assert out == {3: 1, 10: 10, 20: 20}


def test_all_columns_survive(spark):
    docs = _docs(spark, [(1, "keep me", 2), (2, "drop me", 1)])
    rows = dedup_keep_best(docs, _pairs(spark, [(1, 2)]), score_col="score").collect()
    assert len(rows) == 1
    assert rows[0]["text"] == "keep me" and rows[0]["score"] == 2


def test_corpus_text_never_shuffles(spark):
    # the corpus side pays only id-keyed anti/left joins — no exchange
    # carries the text column (component map + losers are id-only)
    docs = (
        spark.range(0, 500, 1, 8)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.repeat(F.lit("x"), 100))
        .withColumn("score", F.col("doc_id") % 7)
    )
    pairs = _pairs(spark, [(i, i + 1) for i in range(0, 100, 2)])
    plan = (
        dedup_keep_best(docs, pairs, score_col="score")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line and "text" in line:
            raise AssertionError(f"text crossed an exchange: {line}")


def test_keep_best_string_ids_deterministic_tiebreak(spark):
    """ADVICE r6: -F.col(id) casts string ids to NULL under ANSI-off,
    making the min-id tie-break arbitrary; the type-agnostic path picks
    max score then MIN id among ties for any orderable id type."""
    from syslog_ng_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [("a", 5), ("b", 5), ("c", 5), ("z", 1)],
        "doc_id string, score int",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    out = {(r.doc_id, r.component) for r in
           dedup_keep_best(docs, pairs, score_col="score").collect()}
    # all three tie at score 5 -> min id 'a' wins; 'z' is a singleton
    assert out == {("a", "a"), ("z", "z")}


@pytest.mark.parametrize(
    "id_type, ids",
    [("string", ["a", "b", "z"]), ("long", [1, 2, 26])],
    ids=["string", "long"],
)
def test_keep_best_all_null_score_cluster(spark, id_type, ids):
    """A cluster whose every score is NULL still keeps one member (the
    min id), for string and numeric ids alike."""
    a, b, z = ids
    docs = spark.createDataFrame(
        [(a, None), (b, None), (z, None)], f"doc_id {id_type}, score int"
    )
    pairs = spark.createDataFrame([(a, b)], f"id_a {id_type}, id_b {id_type}")
    out = {(r.doc_id, r.component) for r in
           dedup_keep_best(docs, pairs, score_col="score").collect()}
    assert out == {(a, a), (z, z)}
