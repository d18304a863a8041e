"""Similarity search tests: brute-force vs numpy oracle, LSH recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from syslog_ng_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = SIM.brute_force_topk(emb, queries, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.cos))

    norms = np.linalg.norm(mat, axis=1)
    for qid, hits in by_q.items():
        q = mat[ids == qid][0]
        cos = mat @ q / (norms * np.linalg.norm(q))
        # numpy oracle top-5 (ties broken by id like the operator)
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:5]
        exp = [ids[i] for i in order]
        hits.sort()
        assert [h[1] for h in hits] == list(exp)
        for (rank, vid, c), i in zip(hits, order):
            assert abs(c - cos[i]) < 1e-6


def test_lsh_recall_reasonable(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.brute_force_topk(emb, queries, k=3)
    approx = SIM.lsh_topk(emb, queries, k=3, n_planes=4, dim=64)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # self-match always lands in the same bucket → recall > 0; at 4 planes
    # expect at least a third of exact results recovered on this data
    assert len(a & e) >= len(e) // 3
    # rank-1 self hits must be present
    for qid in {q for q, _ in e}:
        assert (qid, qid) in a


def test_embedding_near_dup_self(spark):
    # two identical + one orthogonal vector
    df = spark.createDataFrame(
        [
            (1, [1.0] * 8 + [0.0] * 56),
            (2, [1.0] * 8 + [0.0] * 56),
            (3, [0.0] * 56 + [1.0] * 8),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = SIM.embedding_near_dup(df, threshold=0.99, n_planes=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_multiprobe_improves_recall(spark, emb):
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id) for r in SIM.brute_force_topk(emb, queries, k=3).collect()}
    base = {
        (r.query_id, r.vec_id)
        for r in SIM.lsh_topk(emb, queries, k=3, n_planes=6).collect()
    }
    probed = {
        (r.query_id, r.vec_id)
        for r in SIM.lsh_topk(emb, queries, k=3, n_planes=6, multiprobe=6).collect()
    }
    assert len(probed & exact) >= len(base & exact)
    # multiprobe must never lose the self-hit
    for qid in {q for q, _ in exact}:
        assert (qid, qid) in probed


def test_embedding_near_dup_recall_vs_brute_force(spark, emb):
    """Gate parameters (24 tables x 3 planes) must reach recall 1.0 vs
    the exact all-pairs result at the gate threshold on the real table."""
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    rows = e.orderBy("vec_id").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = nrm @ nrm.T
    exact = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if cos[i, j] >= 0.45
    }
    got = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_near_dup(
            e, threshold=0.45, n_planes=3, n_tables=24
        ).collect()
    }
    assert got == exact
    assert len(exact) > 0  # non-trivial at sf0.001


def test_embedding_hot_bucket_cap_and_accounting(spark):
    """One degenerate bucket (300 identical vectors land in the same LSH
    bucket of every table) must not produce a quadratic pair set: the
    skew cap drops those buckets (audited via _dropped_buckets), and
    pairs outside the hot cluster are still found."""
    from syslog_ng_spark.operators.similarity import embedding_near_dup

    hot = [(i, [1.0] * 8) for i in range(300)]
    # two near-identical cold vectors, far from the hot direction
    cold = [
        (9001, [(-1.0) ** j * (1.0 + 0.001 * j) for j in range(8)]),
        (9002, [(-1.0) ** j * (1.0 + 0.0011 * j) for j in range(8)]),
    ]
    df = spark.createDataFrame(hot + cold, "vec_id long, embedding array<double>")
    out = embedding_near_dup(
        df, threshold=0.99, dim=8, n_planes=4, n_tables=4,
        max_bucket_size=100, eager=True,
    )
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (9001, 9002) in pairs
    assert not any(a < 300 and b < 300 for a, b in pairs)
    assert out._dropped_buckets.count() >= 4  # the hot bucket, in every table

    # uncapped: the hot cluster verifies quadratically (correct, but the
    # cap is what keeps this bounded at corpus scale)
    sub = df.filter("vec_id < 20 or vec_id >= 9001")
    n = embedding_near_dup(
        sub, threshold=0.99, dim=8, n_planes=4, n_tables=4, max_bucket_size=None
    ).count()
    assert n == 20 * 19 / 2 + 1


def test_embedding_near_dup_distributed_fallback(spark, emb):
    """Driver-memory bound: when the candidate id set exceeds
    max_gather_ids, the verify must switch to the distributed
    shuffle-join path and still produce the identical pair set (same
    cosines, same threshold survivors) as the gather path."""
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    gather = SIM.embedding_near_dup(e, threshold=0.45, n_planes=3, n_tables=24)
    assert gather._verify_strategy == "gather"
    fallback = SIM.embedding_near_dup(
        e, threshold=0.45, n_planes=3, n_tables=24, max_gather_ids=0
    )
    assert fallback._verify_strategy == "distributed"
    g = {(r.id_a, r.id_b, round(r.cos, 9)) for r in gather.collect()}
    f = {(r.id_a, r.id_b, round(r.cos, 9)) for r in fallback.collect()}
    assert f == g
    assert len(g) > 0


def test_ivf_topk_recall_and_pruning(spark, emb):
    """IVF ANN: √n k-means cells, nprobe nearest cells per query, exact
    rerank inside — self-hits always recovered (a vector's own cell is
    its nearest), recall vs brute force bounded below, and the probe
    touches only nprobe cells' worth of rows."""
    assigned, centroids = SIM.ivf_index(emb, n_cells=8, seed=7)
    n_cells = assigned.select("_cell").distinct().count()
    assert 2 <= n_cells <= 8

    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = SIM.brute_force_topk(emb, queries, k=3)
    approx = SIM.ivf_topk(assigned, centroids, queries, k=3, nprobe=3)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    for qid in {q for q, _ in e}:
        assert (qid, qid) in a          # self-hit: own cell is nearest
    assert len(a & e) >= len(e) // 2    # ≥50% of exact top-3 at nprobe=3/8

    # probing ALL cells degenerates to exact — same result set
    full = SIM.ivf_topk(assigned, centroids, queries, k=3, nprobe=8)
    f = {(r.query_id, r.vec_id, r.rank) for r in full.collect()}
    ex = {(r.query_id, r.vec_id, r.rank) for r in exact.collect()}
    assert f == ex


def test_embedding_near_dup_fallback_string_ids(spark, emb):
    """The distributed bucket-local verify must carry the id column's
    actual type (ADVICE r4): string ids through the fallback path give
    the same pair set as the gather path."""
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>")).withColumn(
        "vec_id", F.concat(F.lit("doc-"), F.col("vec_id").cast("string"))
    )
    gather = SIM.embedding_near_dup(e, threshold=0.45, n_planes=3, n_tables=24)
    fallback = SIM.embedding_near_dup(
        e, threshold=0.45, n_planes=3, n_tables=24, max_gather_ids=0
    )
    assert fallback._verify_strategy == "distributed"
    g = {(r.id_a, r.id_b, round(r.cos, 9)) for r in gather.collect()}
    f = {(r.id_a, r.id_b, round(r.cos, 9)) for r in fallback.collect()}
    assert f == g and len(g) > 0
    assert all(isinstance(a, str) and a.startswith("doc-") for a, _, _ in f)


def test_ivf_write_read_roundtrip(spark, emb, tmp_path):
    """ivf_write/ivf_read lifecycle: the persisted index reproduces the
    in-memory probe exactly, and the path form of ivf_topk loads both
    halves itself."""
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    assigned, centroids = SIM.ivf_index(e, n_cells=6, seed=42)
    path = str(tmp_path / "ivf")
    SIM.ivf_write(assigned, centroids, path)
    ra, rc = SIM.ivf_read(spark, path)
    assert {r._cell for r in ra.select("_cell").distinct().collect()} <= set(
        i for i, _ in centroids
    )
    queries = e.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    mem = {(r.query_id, r.vec_id, r.rank) for r in SIM.ivf_topk(assigned, centroids, queries, k=4, nprobe=6).collect()}
    disk = {(r.query_id, r.vec_id, r.rank) for r in SIM.ivf_topk(path, None, queries, k=4, nprobe=6).collect()}
    assert mem == disk and len(disk) > 0
