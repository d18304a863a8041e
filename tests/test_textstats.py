"""Text analysis tests: token counts, language ID, quality, fingerprint."""

from pyspark.sql import functions as F

from syslog_ng_spark.operators import textstats as TS


def test_token_counts(spark):
    df = spark.createDataFrame([("the quick brown fox",), ("",), ("  a  b ",)], "text string")
    out = df.select(
        TS.token_count(F.col("text")).alias("n"),
        TS.bpe_ish_token_count(F.col("text")).alias("b"),
    ).collect()
    assert [r.n for r in out] == [4, 0, 2]
    assert out[0].b >= 4


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat is on the mat and it is warm",),
            ("der Hund ist nicht auf der Couch und das ist gut",),
            ("le chat est dans la maison et il est content",),
            ("xyzzy plugh 12345",),
            (None,),
        ],
        "text string",
    )
    out = [r.lang for r in df.select(TS.lang_id(F.col("text")).alias("lang")).collect()]
    assert out == ["en", "de", "fr", "und", "und"]


def test_stopword_ratio(spark):
    # NULL text has no tokens: 0.0, like empty text
    df = spark.createDataFrame([("the cat is here",), ("",), (None,)], "text string")
    out = [r.sw for r in df.select(TS.stopword_ratio(F.col("text")).alias("sw")).collect()]
    assert out == [0.5, 0.0, 0.0]


def test_quality_score_bounds(spark, transcripts_df):
    out = transcripts_df.select(TS.quality_score(F.col("text")).alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0.0 <= out[0] <= out[1] <= 1.0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("  hello world ",), ("different",)], "text string"
    )
    fps = [r.fp for r in df.select(TS.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_add_textstats_columns(spark):
    df = spark.createDataFrame([("some text here",)], "text string")
    out = TS.add_textstats(df)
    for c in ["n_tokens", "n_bpe_tokens", "lang_guess", "quality", "fingerprint"]:
        assert c in out.columns
