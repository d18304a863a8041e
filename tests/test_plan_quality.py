"""Physical-plan assertions: the 100-TB properties SURVEY §4 calls out.

These guard the plan SHAPE, not results: filters reach the parquet scan,
small dims broadcast, routing stays shuffle-free until its final
aggregate, and hot paths keep whole-stage codegen.
"""

import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.functions import filters as FL
from syslog_ng_spark.plans import LogPath, Pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark, transcripts_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "t")
    transcripts_df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_filter_pushdown_reaches_scan(corpus):
    q = corpus.filter(F.col("role") == "assistant").select("conv_id", "turn_idx")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,assistant)]" in plan


def test_column_pruning(corpus):
    q = corpus.select("conv_id").distinct()
    plan = _plan(q)
    # scan must read only conv_id, not text
    assert "ReadSchema: struct<conv_id:string>" in plan


def test_routing_is_single_stage_until_agg(corpus):
    from syslog_ng_spark.operators.parsers import syslog_parser

    pipe = Pipeline(
        [
            LogPath("a", FL.FSeverity("err..emerg") & FL.FRaw(F.col("syslog_matched")), frozenset(["final"])),
            LogPath("b", F.col("tool") == "bash"),
            LogPath("c", None, frozenset(["fallback"])),
        ]
    )
    routed = pipe.route(syslog_parser(corpus), persist=False)
    aggs = [F.sum(F.col(f"_deliver_{p.name}").cast("long")) for p in pipe.paths]
    plan = _plan(routed.df.agg(*aggs))
    # exactly one exchange: the final single-partition aggregate
    assert plan.count("Exchange") == 1, plan


def test_enrich_join_is_broadcast(spark, corpus):
    from syslog_ng_spark.operators.enrich import add_contextual_data

    ctx = spark.createDataFrame(
        [("bash", "team", "x")], "selector string, name string, value string"
    )
    out = add_contextual_data(corpus, ctx, F.col("tool"))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parse_projection_keeps_codegen(corpus):
    from syslog_ng_spark.operators.parsers import syslog_parser

    q = syslog_parser(corpus).select("pri", "host", "msg", "syslog_matched")
    plan = _plan(q)
    # '*(N)' prefix marks whole-stage-codegen'd operators
    assert "*(1)" in plan, plan


def test_minhash_band_join_shuffles_small_rows(spark):
    from syslog_ng_spark.operators.dedup import minhash_lsh

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g x")], "doc_id long, text string"
    )
    pairs = minhash_lsh(docs, threshold=0.1)
    plan = _plan(pairs)
    # shingle arrays must not cross the band-join exchanges: the exchanges
    # below the join carry only id/band/bh
    for frag in plan.split("Exchange")[1:3]:
        head = frag[:200]
        assert "sh" not in head.split("AS")[0] or "hashpartitioning" in head


def test_salted_agg_is_two_phase(spark, transcripts_df):
    from syslog_ng_spark.operators.grouping import salted_agg

    out = salted_agg(
        transcripts_df, key=["conv_id"], aggs={"n": ("count", None)}, salt_buckets=4
    )
    plan = _plan(out)
    # two exchanges: (key, salt) then (key) — the partial combine runs
    # map-side before each
    assert plan.count("Exchange") == 2
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_near_dup_verify_has_no_cartesian(spark):
    """minhash/simhash/winnow/embedding near-dup plans: candidates come
    from equi-joins (SortMerge/Hash), never a cartesian/broadcast-nested-
    loop product of the corpus with itself."""
    from syslog_ng_spark.operators.dedup import minhash_lsh, simhash_near_dup
    from syslog_ng_spark.operators.similarity import embedding_near_dup
    from syslog_ng_spark.operators.winnow import winnow_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(64)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    for q in (
        minhash_lsh(docs, threshold=0.5),
        simhash_near_dup(docs, threshold=0.5),
        winnow_pairs(docs, threshold=0.5),
        embedding_near_dup(emb, threshold=0.9, n_planes=4, n_tables=4),
    ):
        plan = _plan(q)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_verify_never_joins_corpus_vectors(spark):
    """The exact-cosine verify never broadcasts (or shuffles) the full
    corpus vector table: candidate vectors are fetched through a
    semi-join against the candidate id set (a bounded side query) into a
    broadcast-variable gather matrix, so the RETURNED plan contains only
    the LSH band self-join — no per-pair vector join at all. The round-2
    version force-broadcast df.select(id, vec) over the whole corpus —
    a hard driver OOM at 100 TB."""
    from syslog_ng_spark.operators.similarity import embedding_near_dup

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(64)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_near_dup(emb, threshold=0.9, n_planes=4, n_tables=4))
    # the candidate stage is materialized into an InMemoryRelation whose
    # stored AQE plan prints both initial and final variants of the ONE
    # band self-join; what must NOT appear is any further join (per-pair
    # vector fetch) or a second cos evaluation pushed into the filter
    assert "InMemoryTableScan" in plan
    assert plan.count("_cos_gather") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_probe_prunes_cell_partitions(spark, tmp_path):
    """IVF at rest: ``assigned`` written partitioned by ``_cell`` +
    the probe's static ``_cell IN (...)`` filter = parquet partition
    pruning — the probe reads only the nprobe cells' files (√n read),
    never rescanning the corpus."""
    from syslog_ng_spark.operators.similarity import ivf_index, ivf_topk, ivf_write

    emb = spark.createDataFrame(
        [(i, [float((i * 13 + j) % 7) for j in range(8)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    assigned, centroids = ivf_index(emb, n_cells=6, seed=3)
    path = str(tmp_path / "ivf_index")
    ivf_write(assigned, centroids, path)
    queries = spark.createDataFrame(
        [(1, [1.0] * 8)], "query_id long, embedding array<double>"
    )
    # probe straight from the persisted layout (write-once/probe-many)
    out = ivf_topk(path, None, queries, k=3, nprobe=2)
    plan = _plan(out)
    # the parquet scan's PartitionFilters carry the probed-cell IN-list:
    # static pruning, 2 of 6 cell directories read, not the whole corpus
    import re

    m = re.search(r"PartitionFilters: \[_cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, plan
    assert len(m.group(1).split(",")) == 2  # exactly nprobe cells
    # correctness: self-consistent top-k from the probed cells
    assert out.count() <= 3


def test_pdb_correlate_is_one_window_one_agg(spark):
    """Correlation contexts: one window (sessionize) + one aggregate —
    the grouping-by two-shuffle shape, no per-row Python beyond the
    classify UDF."""
    import datetime

    from syslog_ng_spark.operators.patterndb import PdbRule, patterndb, pdb_correlate

    rules = [
        PdbRule("r", "system", "", "user @NUMBER:uid@ x@ANYSTRING:r@",
                context_id="${uid}", context_timeout=60, context_scope="global")
    ]
    df = spark.createDataFrame(
        [("p", "user 1 x", datetime.datetime(2026, 1, 1))],
        "program string, msg string, ts timestamp",
    )
    plan = _plan(pdb_correlate(patterndb(df, rules), rules))
    # lag + running-sum over the same partitioning compile to two Window
    # nodes sharing one sort — what matters is the shuffle count: one
    # exchange into the sessionize window, one into the aggregate
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_exchange(spark, transcripts_df):
    """Two tables bucketed on the join key join with ZERO exchange —
    the storage-layout lever for repeated 100-TB enrichment joins."""
    from syslog_ng_spark.sources.io import read_bucketed_table, write_bucketed_table

    a = transcripts_df.select("conv_id", "turn_idx", "tool")
    b = transcripts_df.groupBy("conv_id").count()
    try:
        write_bucketed_table(a, "bt_a", ["conv_id"], 4, sort_cols=["conv_id"])
        write_bucketed_table(b, "bt_b", ["conv_id"], 4, sort_cols=["conv_id"])
        j = read_bucketed_table(spark, "bt_a").join(
            read_bucketed_table(spark, "bt_b"), "conv_id"
        )
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == transcripts_df.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_pack_chunked_no_data_sized_single_partition(spark):
    """pack_chunked's global cumsum must never move the DATA to one
    partition: the plan may single-partition only the tiny
    per-partition-totals frame (numPartitions rows), the corpus side
    sees one RANGE exchange + one broadcast join."""
    from syslog_ng_spark.operators.packing import pack_chunked

    docs = spark.range(10_000).select(
        F.col("id").alias("doc_id"), (F.pmod("id", F.lit(50)) + 1).alias("n_tokens")
    ).repartition(8)
    plan = _plan(pack_chunked(docs, budget=512))
    # the data path: ONE deterministic-bucket hash exchange of the
    # corpus -> MapInPandas local cumsum -> broadcast prefix join; the
    # totals branch aggregates straight off the SOURCE (map-side
    # partial, at most tasks x n_buckets tiny rows in its exchange) —
    # bucket ids are a pure function of the row, never
    # spark_partition_id() over a SAMPLED range exchange (whose
    # boundaries can differ between branch re-evaluations)
    assert "Exchange rangepartitioning" not in plan
    assert "MapInPandas" in plan
    # corpus bucket exchange + tiny totals agg exchange
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only SinglePartition exchange feeds the totals prefix window,
    # whose input is the per-bucket PARTIAL aggregate (tiny)
    assert plan.count("Exchange SinglePartition") <= 1


def test_mix_sources_is_zero_shuffle(spark):
    from syslog_ng_spark.operators.sampling import mix_sources

    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    plan = _plan(mix_sources(docs, {"src0": 0.0, "src1": 2.5}))
    # weighted mixing must be a narrow projection + generate: no exchange
    assert "Exchange" not in plan, plan


def test_shuffle_shards_is_one_exchange(spark):
    from syslog_ng_spark.operators.sampling import shuffle_shards

    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = _plan(shuffle_shards(docs, 8))
    # exactly the shard hash-partition; the in-shard sort is local
    assert plan.count("Exchange") == 1, plan


def test_unigram_broadcast_mode_no_token_shuffle_join(spark):
    from syslog_ng_spark.operators.quality import unigram_logprob, unigram_stats

    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(50)], "doc_id long, text string"
    )
    vocab = unigram_stats(docs).cache()
    plan = _plan(unigram_logprob(docs, vocab=vocab, vocab_limit=10))
    # scoring side must broadcast the vocab, not shuffle the corpus tokens
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_decontaminate_corpus_side_never_shuffles(spark, tmp_path):
    from syslog_ng_spark.operators.decontaminate import decontaminate

    spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(100)],
        "doc_id long, text string",
    ).write.parquet(str(tmp_path / "docs"))
    # parquet-backed like real usage: size stats let the planner pick
    # the broadcast join-back statically (AQE does the same at runtime)
    docs = spark.read.parquet(str(tmp_path / "docs"))
    bench = docs.filter("doc_id % 10 = 0")
    plan = _plan(decontaminate(docs, bench, n=5))
    # the only hash exchanges allowed: the (small) benchmark-side gram
    # distinct and the matched-grams-only per-doc overlap count; the
    # corpus branch feeds a broadcast semi join map-side, and the
    # overlap table joins back by broadcast, not by shuffling the corpus
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_gate_scan_parallelism_is_the_dedup_rule(spark, tmp_path):
    """``_t(wide=True)`` repartitions a gate table through the library's
    one scan-parallelism rule (``dedup._ensure_parallelism``): a
    single-file table gets one round-robin exchange, a table that
    already has enough scan partitions gets none, and ``wide=False``
    never adds one."""
    import importlib
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    try:
        entry = importlib.import_module("__spark_entry__")
    finally:
        sys.path.pop(0)
    enough = min(spark.sparkContext.defaultParallelism, 8)
    rows = spark.range(0, 4000).withColumn("text", F.concat(F.lit("t"), "id"))
    rows.coalesce(1).write.parquet(str(tmp_path / "one.parquet"))
    rows.repartition(enough).write.parquet(str(tmp_path / "many.parquet"))
    sf_dir = str(tmp_path)
    assert entry._t(spark, sf_dir, "many").rdd.getNumPartitions() >= enough

    def exchanges(name, **kw):
        return _plan(entry._t(spark, sf_dir, name, **kw)).count(
            "RoundRobinPartitioning"
        )

    assert exchanges("one", wide=True) == 1
    assert exchanges("one") == 0
    assert exchanges("many", wide=True) == 0
