"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  dot products via ``zip_with``/``aggregate`` (JVM-side), window top-k.
  The correctness baseline; O(N·Q) but embarrassingly parallel and
  shuffle-free until the final tiny top-k.
- ``lsh_topk`` — random-hyperplane LSH: deterministic projection
  hyperplanes derived from xxhash (no stored model), sign-bit bucket
  join shrinks candidates, exact rerank inside buckets. The 100 TB path:
  probe cost scales with bucket occupancy, not corpus size.
- ``embedding_near_dup`` — near-duplicate pairs by cosine ≥ threshold
  using the same LSH bucketing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pyspark.sql import types as T

from .dedup import (
    _bucket_pairs,
    _cap_buckets,
    _ensure_parallelism,
    _finish_near_dup,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, embedding). Broadcast joined against the
    corpus (no shuffle of the big side); per-query top-k via window.
    Corpus norms are computed inline — for repeated querying, pre-store
    them (norm is a narrow derived column).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.join(F.broadcast(q)).withColumn(
        "cos", cosine(F.col(vec_col), F.col("_qvec"))
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


def _mix64(x: int) -> int:
    """splitmix64 finalizer — deterministic hyperplane family, no stored
    model (any executor regenerates identical planes)."""
    x = (x + 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
    return x ^ (x >> 31)


def _plane_matrix(n_planes_total: int, dim: int):
    """(n_planes_total × dim) hyperplane matrix with entries in [-1, 1],
    derived from splitmix64(plane*dim + i) — cached per process."""
    key = (n_planes_total, dim)
    m = _PLANE_CACHE.get(key)
    if m is None:
        m = np.array(
            [
                [(_mix64(p * 100_003 + i) % 2001 - 1000) / 1000.0 for i in range(dim)]
                for p in range(n_planes_total)
            ],
            dtype=np.float64,
        )
        _PLANE_CACHE[key] = m
    return m


_PLANE_CACHE: dict = {}


def _lsh_buckets_udf(n_planes: int, dim: int, n_tables: int):
    """Vectorized bucket computation: ALL n_tables×n_planes projections
    in one numpy matmul per Arrow batch (the HOF formulation interprets
    a lambda per (plane × dim) element — measured seconds vs millis).
    Returns array<long> of n_tables bucket ids per row."""
    total = n_planes * n_tables
    weights = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def fn(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        H = _plane_matrix(total, dim)
        A = np.stack(s.to_numpy()).astype(np.float64)
        signs = (A @ H.T) > 0  # (n, total)
        B = signs.reshape(len(A), n_tables, n_planes).astype(np.int64) @ weights
        return pd.Series(list(B))

    return F.pandas_udf(fn, T.ArrayType(T.LongType()))


def lsh_bucket(vec: Column, n_planes: int, dim: int) -> Column:
    """Pack n sign bits into a bucket id (random-hyperplane LSH)."""
    return F.element_at(_lsh_buckets_udf(n_planes, dim, 1)(vec), 1)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the LSH bucket, exact rerank inside.

    Recall improves with fewer planes (bigger buckets) — n_planes trades
    candidate count vs recall. ``multiprobe=n`` additionally probes every
    bucket at Hamming distance 1 over the first n planes (the classic
    multi-probe trick): ~n× candidates on the QUERY side only — the
    corpus is neither re-bucketed nor re-scanned, the probe fan-out rides
    the broadcast.
    """
    cb = corpus.withColumn("_bucket", lsh_bucket(F.col(vec_col), n_planes, dim))
    qbase = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("_b0"),
    )
    probes = [F.col("_b0")] + [
        F.col("_b0").bitwiseXOR(F.lit(1 << i)) for i in range(min(multiprobe, n_planes))
    ]
    qb = qbase.select(
        query_id_col,
        "_qvec",
        F.explode(F.array(*probes)).alias("_bucket"),
    )
    cand = (
        cb.join(F.broadcast(qb), "_bucket")
        .withColumn("cos", cosine(F.col(vec_col), F.col("_qvec")))
        .dropDuplicates([query_id_col, id_col])
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )


@F.pandas_udf(T.DoubleType())
def _cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over two array<double> columns — numpy batch
    matmul instead of per-element HOF lambda interpretation (50-100 ns
    per element; a verify pass over millions of candidate pairs × 64
    dims is minutes as HOFs, <1s as numpy)."""
    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.stack(a.to_numpy())
    B = np.stack(b.to_numpy())
    num = np.einsum("ij,ij->i", A, B)
    den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(np.einsum("ij,ij->i", B, B))
    return pd.Series(num / den)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    max_bucket_size: int = 10000,
    eager: bool = False,
    max_gather_ids: int = 1_000_000,
    max_gather_pairs: int = 500_000,
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with exact cosine ≥ threshold; candidates come
    from ``n_tables`` independent random-hyperplane LSH tables of
    ``n_planes`` sign bits each (banded, like minhash bands), exact
    cosine verifies every candidate via a vectorized numpy UDF.

    Recall per true pair = 1-(1-c(θ)^p)^L with c(θ)=1-θ/π: raise
    ``n_tables`` for recall, raise ``n_planes`` for selectivity. For real
    corpora whose near-dups sit at cosine ≥ 0.9 (θ ≤ 26°, c ≥ 0.86),
    p=12–16 / L=8 prunes candidates sharply.

    Scale shape: the band join shuffles (id, table, bucket) rows — ~20
    bytes per doc per table, never the vectors. The verify stage fetches
    vectors for CANDIDATE ids only: semi-join the corpus down to the
    (distinct) candidate id set. When the candidate set is small (≤
    ``max_gather_pairs`` pairs AND ≤ ``max_gather_ids`` ids) the
    candidate vectors are gathered to the driver once and broadcast as a
    numpy matrix, and the verify UDF receives only (id_a, id_b) pairs —
    a measured 2× win over shipping vectors per pair through Arrow.
    When either bound is exceeded (dup-heavy or hot-bucket corpora make
    the pair set near-quadratic while corpus × tables stays linear;
    measured 5.1 s vs 7.5 s at the gate's worst case) the verify runs as a
    fully distributed BUCKET-LOCAL pass: vectors join onto their capped
    band rows (each vector ships ``n_tables`` times — bytes linear in
    corpus size, never per candidate pair) and all pairs inside each
    bucket are verified with one chunked numpy pass, thresholded pairs
    deduped across tables. Driver memory is therefore bounded by
    ``max_gather_ids × dim × 8`` bytes (~0.5 GB at the defaults); set
    ``max_gather_ids=0`` to force the distributed verify.

    NOTE: this operator is EAGER at call time even with ``eager=False``:
    the candidate stage runs immediately (to count candidate ids and, on
    the gather path, build the broadcast matrix). ``eager=True``
    additionally checkpoints the final result.

    ``max_bucket_size`` is the same skew guard as minhash_lsh (a hot
    bucket of m vectors otherwise costs m² candidates), with the same
    audit frame ``out._dropped_buckets``; set ``None`` to disable.
    """
    df = _ensure_parallelism(df)
    buckets = _lsh_buckets_udf(n_planes, dim, n_tables)(F.col(vec_col))
    banded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets).alias("tbl", "bk"),
    )
    banded, dropped = _cap_buckets(banded, ["tbl", "bk"], max_bucket_size)
    # Choose the verify strategy from BUCKET OCCUPANCY, not from a
    # materialized candidate join: est = Σ C(size, 2) over the (capped)
    # buckets upper-bounds the candidate pair volume and IS the cost of
    # the self-join itself, and it comes from one tiny aggregate over
    # the band rows. Gather-verify cost scales with PAIRS (every pair
    # ships through Arrow and indexes the matrix — and the self-join +
    # dropDuplicates must run first just to enumerate them);
    # bucket-local distributed cost scales with corpus × tables. In
    # hot-bucket regimes (near-isotropic vectors, low n_planes) pairs
    # approach n²/2 while corpus × tables stays linear — measured
    # 5.1 s vs 7.5 s on the gate's worst-case corpus — so large pair
    # sets go distributed WITHOUT ever building the pair join.
    est_pairs = (
        banded.groupBy("tbl", "bk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum(F.col("_n") * (F.col("_n") - 1) / 2).alias("_p"))
        .collect()[0]["_p"]
        or 0
    )
    use_gather = est_pairs <= max_gather_pairs
    cand = None
    n_ids = 0
    if use_gather:
        # cand is read 3× (the id union's two sides + the verify) and is
        # tiny (two longs per pair) — cache it so the LSH stage runs once.
        cand = _bucket_pairs(banded, ["tbl", "bk"]).select("id_a", "id_b").persist()
        ids = (
            cand.select(F.col("id_a").alias("_cid"))
            .union(cand.select(F.col("id_b").alias("_cid")))
            .distinct()
        )
        n_ids = ids.count()
        if n_ids > max_gather_ids:
            use_gather = False
            cand.unpersist()
            cand = None
    bc = None
    if use_gather:
        # semi-join → runtime filter into the scan: only CANDIDATE
        # vectors are fetched — the id set is bounded by the (capped)
        # LSH output, not the corpus.
        cvec = df.join(
            F.broadcast(ids) if n_ids <= max(max_gather_ids, 1) else ids,
            F.col(id_col) == F.col("_cid"),
            "left_semi",
        ).select(F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vec"))
        # GATHER verify: one copy of the candidate vector matrix is
        # broadcast per executor and a vectorized UDF indexes into it per
        # (id_a, id_b) batch. Joining vectors onto the pairs instead
        # would duplicate every vector per pair through the Arrow channel
        # — measured 2 GB of transfer (6.4 s) vs 30 MB of id pairs
        # (~1.5 s) on the gate's worst-case corpus.
        rows = cvec.collect()
        idx = pd.Index([r["_vid"] for r in rows])
        mat = np.stack([np.asarray(r["_vec"], dtype=np.float64) for r in rows]) if rows else np.zeros((0, 1))
        nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        bc = df.sparkSession.sparkContext.broadcast((idx, mat, nrm))

        @F.pandas_udf(T.DoubleType())
        def _cos_gather(ia: pd.Series, ib: pd.Series) -> pd.Series:
            gidx, gmat, gnrm = bc.value
            a = gidx.get_indexer(ia)
            b = gidx.get_indexer(ib)
            if len(a) and (a.min() < 0 or b.min() < 0):
                raise ValueError(
                    "embedding_near_dup gather verify: candidate id missing "
                    "from the gathered vector matrix (corpus changed "
                    "between candidate and verify stages?)"
                )
            num = np.einsum("ij,ij->i", gmat[a], gmat[b])
            return pd.Series(num / (gnrm[a] * gnrm[b]))

        # nondeterministic marking stops Catalyst pushing a second
        # evaluation of the UDF into the threshold filter (it IS
        # deterministic — this only pins one ArrowEvalPython node
        # instead of two)
        _cos_gather = _cos_gather.asNondeterministic()
        out = (
            cand.withColumn("cos", _cos_gather(F.col("id_a"), F.col("id_b")))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
    else:
        # DISTRIBUTED verify, bucket-local: join each vector onto its
        # (capped) band rows — every vector ships ``n_tables`` times,
        # LINEAR in corpus size — then verify all pairs INSIDE each
        # bucket with one numpy pass and dedup the thresholded pairs
        # across tables. Joining vectors onto the candidate PAIRS
        # instead would ship pair_count × dim × 8 bytes (measured: a
        # dup-heavy 200k-vector corpus produced enough candidate pairs
        # to fill local disk with shuffle spill); bucket-local bytes are
        # corpus × tables regardless of how hot the buckets are.
        # Driver memory stays O(1).
        vside = df.select(
            F.col(id_col).alias("_vid"), F.col(vec_col).cast("array<double>").alias("_vec")
        )
        bucket_rows = banded.join(vside, banded["id"] == vside["_vid"]).select(
            "tbl", "bk", "id", "_vec"
        )

        def _bucket_verify(pdf: pd.DataFrame) -> pd.DataFrame:
            # dtype-agnostic empty frame: id columns inherit the incoming
            # id dtype so string/int32 ids survive the Arrow conversion
            def _empty():
                return pd.DataFrame(
                    {
                        "id_a": pdf["id"].iloc[:0],
                        "id_b": pdf["id"].iloc[:0],
                        "cos": pd.Series([], dtype="float64"),
                    }
                )

            ids_arr = pdf["id"].to_numpy()
            n = len(ids_arr)
            if n < 2:
                return _empty()
            A = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            An = A / np.maximum(
                np.sqrt(np.einsum("ij,ij->i", A, A))[:, None], 1e-300
            )
            outs = []
            # row-chunked upper triangle: a capped bucket (default 10⁴)
            # would otherwise materialize an n×n cosine matrix (~0.8 GB)
            # per task
            chunk = 1024
            for i0 in range(0, n, chunk):
                i1 = min(i0 + chunk, n)
                C = An[i0:i1] @ An.T  # (chunk, n)
                for r in range(i1 - i0):
                    row = C[r, i0 + r + 1 :]
                    hits = np.nonzero(row >= threshold)[0]
                    if len(hits):
                        j = hits + i0 + r + 1
                        a = np.minimum(ids_arr[i0 + r], ids_arr[j])
                        b = np.maximum(ids_arr[i0 + r], ids_arr[j])
                        outs.append(
                            pd.DataFrame({"id_a": a, "id_b": b, "cos": row[hits]})
                        )
            if not outs:
                return _empty()
            return pd.concat(outs, ignore_index=True)

        # output id type mirrors the input id column — the gather path
        # (and the id_col parameter) supports arbitrary id types, so the
        # fallback must too
        id_dt = df.schema[id_col].dataType.simpleString()
        out = (
            bucket_rows.groupBy("tbl", "bk")
            .applyInPandas(_bucket_verify, f"id_a {id_dt}, id_b {id_dt}, cos double")
            .filter(F.col("id_a") != F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    res = _finish_near_dup(out, dropped, [cand, bc], eager, reliable_checkpoint)
    res._verify_strategy = "gather" if bc is not None else "distributed"
    return res


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means-cell scale path
# ---------------------------------------------------------------------------


def ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    seed: int = 42,
    max_iter: int = 5,
):
    """Train an IVF coarse quantizer (k-means cells via Spark MLlib) and
    assign every corpus vector to its cell.

    Returns ``(assigned, centroids)``: ``assigned`` is the corpus plus a
    ``_cell`` column (write it partitioned by ``_cell`` for storage-level
    cell pruning), ``centroids`` a list of (cell_id, numpy center) small
    enough to live driver-side/broadcast (n_cells ≈ √n keeps both probe
    cost and cell size at √n — the classic IVF balance).

    This is the Spark-idiomatic IVF: fitting is one MLlib job (itself a
    fixed number of broadcast-join passes), assignment is a narrow map,
    and querying (``ivf_topk``) touches only nprobe cells — probe cost
    scales with cell occupancy, not corpus size, and unlike LSH the cells
    adapt to the data distribution (clustered real-world embeddings)."""
    import numpy as np  # noqa: PLC0415
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: PLC0415

    df = _ensure_parallelism(df)
    if n_cells is None:
        n_cells = max(2, int(df.count() ** 0.5))
    # carry the corpus columns THROUGH transform instead of joining the
    # assignment back on (the join was a full two-sided shuffle of the
    # corpus — pure waste; transform is a narrow map that keeps columns)
    feat = df.withColumn(
        "_fv", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_fv",
                predictionCol="_cell")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_fv")
    centroids = [(i, np.asarray(c)) for i, c in enumerate(model.clusterCenters())]
    return assigned, centroids


def ivf_write(assigned: DataFrame, centroids, path: str, fmt: str = "parquet") -> str:
    """Persist the IVF index — the write-once half of the
    write-once/probe-many lifecycle: the assigned corpus lands
    PARTITIONED BY ``_cell`` (the storage layout that turns the probe's
    static ``_cell IN (...)`` filter into parquet partition pruning) and
    the tiny centroid table lands beside it. Re-open with
    :func:`ivf_read` or pass the path directly to :func:`ivf_topk`."""
    # co-locate each cell before the partitioned write: without this,
    # every input partition writes a file into every cell dir (P×C tiny
    # files — 2.8× slower at sf0.1 and a metadata bomb at 100 TB);
    # hash-repartitioning on _cell caps it at ~one file per cell
    (
        assigned.repartition(F.col("_cell"))
        .write.partitionBy("_cell")
        .mode("overwrite")
        .format(fmt)
        .save(f"{path}/cells")
    )
    spark = assigned.sparkSession
    rows = [(int(i), [float(x) for x in c]) for i, c in centroids]
    # one-slice parallelize, NOT coalesce(1): createDataFrame slices a
    # local list into defaultParallelism pickled partitions, and
    # coalesce(1) then runs ~32 sequential Python-runner evaluations in
    # ONE task (~150 ms each — measured 4.5 s to write 8 rows); a
    # single-slice RDD is one evaluation, one file
    (
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, numSlices=1),
            "cell int, center array<double>",
        )
        .write.mode("overwrite")
        .format(fmt)
        .save(f"{path}/centroids")
    )
    return path


def ivf_read(spark, path: str, fmt: str = "parquet"):
    """Open a persisted IVF index: ``(assigned, centroids)`` exactly as
    :func:`ivf_index` returned them, with ``assigned`` backed by the
    cell-partitioned files (probes prune to the nprobe cell dirs)."""
    import numpy as np  # noqa: PLC0415

    assigned = spark.read.format(fmt).load(f"{path}/cells")
    centroids = [
        (int(r.cell), np.asarray(r.center, dtype=np.float64))
        for r in spark.read.format(fmt).load(f"{path}/centroids").orderBy("cell").collect()
    ]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame | str,
    centroids,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k over an IVF index: for each query pick the
    ``nprobe`` nearest cells (driver-side numpy over the tiny centroid
    table), equi-join queries onto ONLY those cells, exact cosine rerank
    inside — the IVF probe; the corpus is never rescanned or reshuffled.
    The probed cell set is known driver-side, so it is also pushed as a
    STATIC ``_cell IN (...)`` filter — with ``assigned`` written
    partitioned by ``_cell``, that filter becomes a parquet
    PartitionFilter (no dynamic-pruning machinery needed) and the probe
    is a √n-sized read (plan-asserted in test_plan_quality).

    ``assigned`` may be a PATH to an :func:`ivf_write` layout — the
    probe-many half of the lifecycle (``centroids`` is then ignored and
    loaded from the same layout)."""
    import numpy as np  # noqa: PLC0415

    if isinstance(assigned, str):
        assigned, centroids = ivf_read(queries.sparkSession, assigned)
    spark = assigned.sparkSession
    C = np.stack([c for _i, c in centroids]).astype(np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    qrows = queries.select(query_id_col, vec_col).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        qn = qv / max(float(np.linalg.norm(qv)), 1e-12)
        order = np.argsort(-(Cn @ qn))[:nprobe]
        probe_rows.extend(
            (r[query_id_col], int(centroids[int(i)][0]), r[vec_col]) for i in order
        )
    probes = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, _cell int, _qvec array<double>"
    )
    probed_cells = sorted({c for _q, c, _v in probe_rows})
    pruned = assigned.filter(F.col("_cell").isin(probed_cells))
    cand = pruned.join(F.broadcast(probes), "_cell").withColumn(
        "cos", _cosine_pandas(F.col(vec_col).cast("array<double>"), F.col("_qvec"))
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos"), F.col(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos", "rank")
    )
