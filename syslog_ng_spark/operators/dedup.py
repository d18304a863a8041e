"""Deduplication operators for large-scale corpus curation.

Beyond the reference's ``suppress`` (consecutive dedup — suppress.py),
a training-data pipeline needs corpus-wide dedup. All variants below are
expressed so the expensive parts stay JVM-side and shuffles touch only
candidate pairs, never the full cross product:

- ``exact_dedup``      — hash-groupBy on normalized text (one shuffle on a
                         64-bit key, not the text itself)
- ``minhash_lsh``      — shingle → k minhashes (higher-order functions, no
                         UDF) → banded LSH bucket join → exact Jaccard
                         verify on candidates only
- ``simhash``          — 64-bit sign fingerprint (JVM feature hashing +
                         numpy majority); near-dup = chunk-pigeonhole
                         join + hamming prefilter + exact verify
- ``ngram_jaccard_pairs`` — exact all-pairs Jaccard via inverted index
                         (small scale / verification oracle)
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .lineage import truncate_lineage
from pyspark.sql import types as T


def _norm_text(c: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def _cap_buckets(df: DataFrame, part_cols: list[str], cap: int | None):
    """LSH skew guard: drop every bucket larger than ``cap`` BEFORE the
    candidate self-join (one boilerplate bucket of m rows otherwise costs
    m² pairs). The window count rides the SAME partitioning the join
    shuffles on, so the cap adds no extra exchange.

    Returns ``(kept, dropped)`` where ``dropped`` has one row per dropped
    bucket with its size — the audit trail that makes the cap non-silent
    (callers can count/log it, or route those buckets to exact_dedup).
    ``cap=None`` disables the guard: ``(df, None)``."""
    if cap is None:
        return df, None
    wb = W.partitionBy(*part_cols)
    tagged = df.withColumn("_n", F.count(F.lit(1)).over(wb))
    kept = tagged.filter(F.col("_n") <= cap).drop("_n")
    dropped = (
        tagged.filter(F.col("_n") > cap)
        .select(*part_cols, F.col("_n").alias("bucket_size"))
        .dropDuplicates(part_cols)
    )
    return kept, dropped


def _bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    payload: tuple[str, ...] = (),
    pred: Column | None = None,
) -> DataFrame:
    """The candidate-pair kernel every near-dup family shares: self-join
    the key rows ``(id, *keys, *payload)`` on ``keys`` with
    ``a.id < b.id``, keep the joined rows where ``pred`` holds (a Column
    over the two sides aliased ``a`` and ``b``, applied BEFORE the dedup
    shuffle so rejected pairs are never shuffled), and dedupe to one row
    per pair.

    Returns ``(id_a, id_b, n_shared, <p>_a, <p>_b for p in payload)``;
    ``n_shared`` counts the keys the pair shares (after ``pred``) and
    comes from the same aggregate that dedupes, so a caller that drops
    it pays nothing for it. Payload must be a function of ``id`` (it is
    carried through with ``first``)."""
    cond = F.col("a.id") < F.col("b.id")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    joined = rows.alias("a").join(rows.alias("b"), cond)
    if pred is not None:
        joined = joined.filter(pred)
    return joined.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).agg(
        F.count(F.lit(1)).alias("n_shared"),
        *[F.first(f"{s}.{p}").alias(f"{p}_{s}") for p in payload for s in "ab"],
    )


def _finish_near_dup(
    out: DataFrame,
    dropped: DataFrame | None,
    cached: list,
    eager: bool = False,
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """The epilogue every near-dup family shares: the one audit record
    and the lifetime of what the family cached.

    ``out._dropped_buckets`` is the ``_cap_buckets`` audit frame (one
    row per skew-dropped bucket with its ``bucket_size``; lazy — count
    it only if you need it) or ``None`` when uncapped. ``cached`` holds
    persisted frames and broadcasts (``None`` entries are skipped):
    eager materializes ``out`` via ``truncate_lineage`` and frees them
    at once; lazy frees them when the result is garbage-collected."""
    cached = [c for c in cached if c is not None]
    if eager:
        out = truncate_lineage(out, reliable=reliable_checkpoint)
        for c in cached:
            c.unpersist()
    else:
        for c in cached:
            _unpersist_on_gc(out, c)
    out._dropped_buckets = dropped
    return out


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Small inputs arrive as one parquet file = ONE partition, which
    serializes every per-doc UDF (signature/fingerprint) on a single
    core. Repartition up to the cluster default ONLY when the input has
    fewer partitions — a no-op on real (many-file) datasets, so the
    100 TB path never pays an extra shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 8):
        return df.repartition(target)
    return df


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Keep one representative per exact (normalized) text.

    GroupBy on xxhash64(text) — the shuffle moves 8-byte keys + ids, text
    stays columnar at the scan. Representative = min/max id (deterministic).
    """
    h = F.xxhash64(_norm_text(F.col(text_col)))
    keeper = F.min(id_col) if keep == "min" else F.max(id_col)
    keep_ids = df.select(h.alias("_h"), F.col(id_col)).groupBy("_h").agg(
        keeper.alias(id_col)
    )
    return df.join(keep_ids, id_col, "left_semi")


def tokenize(c: Column) -> Column:
    return F.filter(F.split(_norm_text(c), r"[^\w]+"), lambda t: t != "")


def shingles(c: Column, n: int = 3) -> Column:
    """Word n-gram shingles via higher-order functions (no UDF)."""
    toks = tokenize(c)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signature(c: Column, k: int = 64) -> Column:
    """k minhashes.

    Each shingle is string-hashed ONCE JVM-side (xxhash64); the k
    permutation-minima come from ONE vectorized Arrow UDF doing a numpy
    (shingles × k) universal-hash matrix min — h*A_i + B_i over wrapping
    int64, same LSH guarantees. Splitting the work this way matters:
    expressing the k minima as k higher-order-function columns disables
    codegen AND re-evaluates the shingle pipeline per column (no CSE
    through HOF lambdas) — measured 90ms/doc vs <1ms/doc for this hybrid.
    """
    assert k <= 256
    sh_hashes = F.transform(shingles(c), lambda s: F.xxhash64(s))
    return _minhash_from_hashes(sh_hashes, F.lit(k))


def _doc_batches(lists, max_flat: int = 200_000):
    """Group per-doc hash lists into chunks whose TOTAL element count
    stays under ``max_flat`` — the cross-doc vectorization below builds a
    (total × k) intermediate, and bounding total bounds peak memory."""
    import numpy as np  # noqa: PLC0415

    batch, total = [], 0
    for i, lst in enumerate(lists):
        # Arrow hands list columns over as numpy arrays — no truthiness
        n = 0 if lst is None else len(lst)
        if batch and total + n > max_flat:
            yield batch
            batch, total = [], 0
        batch.append((i, lst, n))
        total += n
    if batch:
        yield batch


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_from_hashes(hashes: pd.Series, k_ser: pd.Series) -> pd.Series:
    """k permutation-minima, vectorized ACROSS documents: flatten every
    doc's shingle hashes in the Arrow batch, one (total × k) universal-
    hash product, per-doc minima via ``np.minimum.reduceat`` — a per-doc
    numpy call costs ~0.1-1 ms of dispatch overhead, which dominated the
    signature pass (measured 5.2 s → ~1 s on the sf0.1 corpus)."""
    import numpy as np  # noqa: PLC0415

    k = int(k_ser.iloc[0])
    A = np.array(_MH_A[:k], dtype=np.int64).astype(np.uint64)
    B = np.array(_MH_B[:k], dtype=np.int64).astype(np.uint64)

    lists = hashes.to_list()
    out = [None] * len(lists)
    for batch in _doc_batches(lists):
        nonempty = [(i, lst, n) for i, lst, n in batch if n]
        if not nonempty:
            continue
        flat = np.concatenate(
            [np.asarray(lst, dtype=np.int64) for _i, lst, _n in nonempty]
        ).astype(np.uint64)
        lens = np.array([n for _i, _lst, n in nonempty])
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        M = flat[:, None] * A + B  # (total × k), wrapping uint64
        mins = np.minimum.reduceat(M, starts, axis=0).astype(np.int64)
        for j, (i, _lst, _n) in enumerate(nonempty):
            out[i] = mins[j].tolist()
    return pd.Series(out)


# Deterministic odd multipliers / offsets for the universal-hash
# permutation family (splitmix64-style constants expanded by index).
def _mh_const(i: int, salt: int) -> int:
    x = (i + 1) * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9
    x ^= x >> 30
    x = (x * 0x94D049BB133111EB) & ((1 << 64) - 1)
    return (x | 1) - (1 << 64) * ((x | 1) >> 63)  # signed odd int64


_MH_A = [_mh_const(i, 1) for i in range(256)]
_MH_B = [_mh_const(i, 2) for i in range(256)]


def minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
    eager: bool = False,
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Near-duplicate PAIRS (id_a < id_b, jaccard ≥ threshold).

    Plan shape: narrow signature computation → explode to ``bands`` rows
    per doc → shuffle on (band, band_hash) — tiny rows — → bucket
    self-join (``_bucket_pairs``) → exact shingle-Jaccard verification
    only on candidate pairs, recomputing shingles on just those rows (the
    shingle arrays never persist and never enter a wide shuffle). At
    100 TB the band join is the only wide stage and its input is
    ~bands×24 bytes per doc.

    ``max_bucket_size``: LSH buckets larger than this are dropped before
    the self-join — one boilerplate-text bucket of m docs otherwise costs
    m² candidate pairs (the classic LSH skew kill). The dropped buckets
    are recorded on the result as the frame ``out._dropped_buckets``
    (see ``_finish_near_dup``; a bucket that big means the texts are
    boilerplate near-identical; route them to ``exact_dedup`` instead).
    Set ``None`` to disable.

    ``eager=True`` materializes the (small) verified pair set via
    localCheckpoint and unpersists the banded cache immediately — the
    round-1 version leaked a persist of the full shingle frame. With
    ``eager=False`` (default) the result stays lazy (single execution)
    and the banded cache is unpersisted automatically when the returned
    DataFrame is garbage-collected (weakref finalizer).
    """
    r = k // bands
    df = _ensure_parallelism(df)
    sig = minhash_signature(F.col(text_col), k)
    sig_df = df.select(F.col(id_col).alias("id"), sig.alias("sig"))
    # band rows carry ONLY (id, band, bandhash) — ~24 bytes — persisted
    # because the self-join reads them twice.
    banded = sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * r + j + 1) for j in range(r)]
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    banded = banded.persist()
    kept, dropped = _cap_buckets(banded, ["band", "bh"], max_bucket_size)
    # cand is read 3× by the verify stage (pairs + two id semi-joins);
    # it is tiny (two longs per candidate pair) — cache it.
    cand = _bucket_pairs(kept, ["band", "bh"]).select("id_a", "id_b").persist()
    verified = _exact_jaccard_on_pairs(cand, df, text_col, id_col, threshold)
    return _finish_near_dup(
        verified, dropped, [banded, cand], eager, reliable_checkpoint
    )


def _unpersist_on_gc(result: DataFrame, cached) -> None:
    """Free ``cached`` (anything with ``.unpersist()``: a persisted frame
    or a broadcast) when ``result`` is garbage-collected — keeps the
    operator lazy (one execution) without leaking cache entries across a
    long session. Spark's ContextCleaner only reclaims RDD caches; the
    SQL CacheManager pins DataFrame persists until an explicit unpersist."""
    import weakref  # noqa: PLC0415

    def _clean(c=cached):
        try:
            c.unpersist()
        except Exception:  # session may already be stopped  # noqa: BLE001
            pass

    weakref.finalize(result, _clean)


def _exact_jaccard_on_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (id_a, id_b) pairs.

    Plan shape: ONE semi-join of the corpus against the union of both
    pair sides (a broadcast-able id set → runtime filter into the scan),
    so the text column is scanned once and shingles are computed only on
    candidate docs; the candidate-sized shingle frame is cached and
    joined onto the pairs twice, then freed when the result is dropped."""
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = shingles(F.col(text_col), n)
    sh_cand = (
        _ensure_parallelism(df).join(F.broadcast(ids), id_col, "left_semi")
        .select(F.col(id_col).alias("_vid"), sh.alias("_vsh"))
        .persist()
    )
    da = sh_cand.select(F.col("_vid").alias("id_a"), F.col("_vsh").alias("sh_a"))
    db = sh_cand.select(F.col("_vid").alias("id_b"), F.col("_vsh").alias("sh_b"))
    verified = pairs.join(da, "id_a").join(db, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    _unpersist_on_gc(out, sh_cand)
    return out


def minhash_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kw
) -> DataFrame:
    """Drop near-duplicates: for each dup pair keep the smaller id
    (union-find collapsed one level — transitive chains keep roots)."""
    pairs = minhash_lsh(df, text_col, id_col, **kw)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# --- SimHash -------------------------------------------------------------------


def simhash(c: Column, bits: int = 64, features: str = "tokens") -> Column:
    """Sign fingerprint of the feature multiset: fingerprint bit i is set
    when more than half the feature hashes have bit i set.

    ``features``: 'tokens' (Charikar's classic bag-of-words) or
    'shingles' (word 3-grams). Shingle features decorrelate documents
    that share a vocabulary but not phrasing — on the synthetic corpus,
    token fingerprints of UNRELATED docs cluster (8-bit-chunk candidate
    rate 29% of all pairs) while shingle fingerprints drop that 9×.

    Hybrid plan: tokenization + per-feature xxhash64 run JVM-side (one
    codegen'd pass); the 64-bit majority count runs as ONE vectorized
    Arrow UDF doing a numpy bit-matrix sum — higher-order-function
    formulations interpret a lambda per (feature × bit) and measured
    5-17s/50k docs, numpy does it in <1s.
    """
    assert bits == 64, "simhash is fixed at 64 bits"
    feats = tokenize(c) if features == "tokens" else shingles(c)
    th = F.transform(feats, lambda t: F.xxhash64(t))
    return _simhash64_from_hashes(th)


@F.pandas_udf(T.LongType())
def _simhash64_from_hashes(hashes: pd.Series) -> pd.Series:
    """64-bit majority fingerprint, vectorized ACROSS documents (same
    flatten + ``reduceat`` construction as ``_minhash_from_hashes`` —
    per-doc numpy dispatch dominated the fingerprint pass)."""
    import numpy as np  # noqa: PLC0415

    shifts = np.arange(64, dtype=np.uint64)
    weights = (np.uint64(1) << shifts)

    lists = hashes.to_list()
    out = np.zeros(len(lists), dtype=np.int64)
    for batch in _doc_batches(lists):
        nonempty = [(i, lst, n) for i, lst, n in batch if n]
        if not nonempty:
            continue
        flat = np.concatenate(
            [np.asarray(lst, dtype=np.int64) for _i, lst, _n in nonempty]
        ).astype(np.uint64)
        lens = np.array([n for _i, _lst, n in nonempty])
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        bits = ((flat[:, None] >> shifts) & np.uint64(1))  # (total × 64)
        ones = np.add.reduceat(bits, starts, axis=0)  # (docs × 64)
        fp = ((ones * 2 > lens[:, None]) * weights).sum(axis=1).astype(np.int64)
        for j, (i, _lst, _n) in enumerate(nonempty):
            out[i] = fp[j]
    return pd.Series(out)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _auto_block_chunks(
    df: DataFrame,
    text_col: str,
    features: str,
    n_chunks: int,
    max_bucket_size: int | None,
    prefilter_hamming: int | None,
    sample_size: int = 4096,
) -> int:
    """Pick ``block_chunks`` from a cheap sampled fingerprint-dispersion
    measurement (TODO r4: token-feature and shingle-feature corpora have
    very different chunk-value dispersion — fixed defaults force the
    user to know that).

    Method: fingerprint up to ``sample_size`` docs (one early-stopping
    job), count the hottest chunk-combination key share per candidate
    table in the sample, project it to the full corpus size, and return
    the SMALLEST d (fewest tables = cheapest shuffle: C(n_chunks, d)
    rows/doc) whose projected hottest bucket fits ``max_bucket_size``.
    d is bounded above by n_chunks − prefilter_hamming (the pigeonhole
    recall guarantee) and by 3 (C(8,4)=70 tables is past the
    cost/recall knee). A sampled estimate can miss a rare hot key — the
    skew-cap audit (``_dropped_buckets``) remains the non-silent
    backstop, exactly as with explicit keying."""
    import collections  # noqa: PLC0415
    import itertools  # noqa: PLC0415

    d_max = n_chunks - (prefilter_hamming or 0)
    d_max = max(1, min(d_max, 3))
    if max_bucket_size is None:
        return 1  # no cap to defend — cheapest keying wins
    n_total = df.count()
    if n_total == 0:
        return d_max
    # Deterministic probe: an unordered limit().collect() takes whichever
    # partitions answer first, so the sample — and the chosen keying /
    # recall envelope — could differ between runs of the same corpus.
    # Downselect by a pure hash of the text (cheap full scan, no regex),
    # then order the small survivor set by that hash so ties imply equal
    # text (hence equal fingerprint). Costs one extra count + a top-K
    # over ~4x sample_size rows — documented price of determinism.
    hkey = F.pmod(F.xxhash64(F.col(text_col)), F.lit(1_000_000))
    thr = max(1, min(1_000_000, int(4.0 * sample_size / n_total * 1_000_000)))
    fps = [
        r[0]
        for r in df.where(hkey < F.lit(thr))
        .select(
            simhash(F.col(text_col), features=features).alias("fp"),
            F.pmod(F.xxhash64(F.col(text_col)), F.lit(1_000_000)).alias("_hk"),
        )
        .orderBy("_hk", "fp")
        .limit(sample_size)
        .collect()
    ]
    s = len(fps)
    if s == 0:
        return d_max
    w = 64 // n_chunks
    mask = (1 << w) - 1
    for d in range(1, d_max + 1):
        worst = 0
        for combo in itertools.combinations(range(n_chunks), d):
            cnt = collections.Counter(
                tuple((fp >> (i * w)) & mask for i in combo) for fp in fps
            )
            worst = max(worst, max(cnt.values()))
        projected = worst / s * n_total
        if projected <= max_bucket_size or d == d_max:
            return d
    return d_max


def _simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_chunks: int,
    max_bucket_size: int | None,
    features: str = "tokens",
    prefilter_hamming: int | None = None,
    block_chunks: int = 1,
):
    """Candidate (id_a, id_b, n_shared, fp_a, fp_b) pairs by fingerprint-
    block pigeonhole (Manku et al. WWW'07 §3, simfinder block-permutation):
    split the 64-bit fingerprint into ``n_chunks`` chunks and build one
    table per ``block_chunks``-sized chunk COMBINATION, keyed on the
    concatenated chunk values. A pair at hamming ≤ n_chunks−block_chunks
    has ≥ block_chunks untouched chunks, so some table keys them together
    — recall is guaranteed up to that bound.

    ``block_chunks`` is the keyspace lever: with d=1 (the naive variant)
    each table has only 2^(64/n_chunks) possible keys — 256 for 8 chunks —
    so beyond ~10⁵ docs EVERY bucket exceeds ``max_bucket_size`` and
    recall silently collapses. d=3 over 8-bit chunks keys each of the
    C(8,3)=56 tables on 24 bits (16.7M values): bucket occupancy stays
    ~n/2²⁴ per table at any corpus size, at the cost of 56 (vs 8) 28-byte
    rows per doc in the band shuffle. Pick d so that
    n_chunks − block_chunks ≥ the hamming radius you need.

    Buckets above ``max_bucket_size`` are dropped (LSH skew guard — same
    rationale as minhash_lsh). Returns ``(cand, dropped)`` where dropped
    is the audit frame from ``_cap_buckets`` (or None when uncapped)."""
    import itertools  # noqa: PLC0415

    assert 64 % n_chunks == 0
    assert 1 <= block_chunks <= n_chunks
    w = 64 // n_chunks
    mask = (1 << w) - 1
    df = _ensure_parallelism(df)
    fp = simhash(F.col(text_col), features=features)
    docs = df.select(F.col(id_col).alias("id"), fp.alias("fp"))

    def chunk_val(i: int) -> Column:
        return F.shiftright(F.col("fp"), i * w).bitwiseAND(F.lit(mask))

    combos = list(itertools.combinations(range(n_chunks), block_chunks))
    chunked = docs.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("chunk"),
                        # 64-bit mixed key of the chunk-value tuple —
                        # collision-free in practice and keeps the bucket
                        # key one long regardless of block_chunks
                        F.xxhash64(*[chunk_val(i) for i in combo]).alias("ck"),
                    )
                    for t, combo in enumerate(combos)
                ]
            )
        ).alias("cc"),
    ).select("id", "fp", "cc.chunk", "cc.ck")
    # chunked is self-joined, but both sides are the identical subplan —
    # Spark's ReusedExchange computes the fingerprint UDF once per query,
    # no persist needed (and none to leak).
    chunked, dropped = _cap_buckets(chunked, ["chunk", "ck"], max_bucket_size)
    # hamming is two longs already in hand (xor + bit_count), so the
    # prefilter drops the noise before the dedup shuffle
    pred = None
    if prefilter_hamming is not None:
        pred = hamming64(F.col("a.fp"), F.col("b.fp")) <= prefilter_hamming
    cand = _bucket_pairs(chunked, ["chunk", "ck"], payload=("fp",), pred=pred)
    return cand, dropped


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    max_bucket_size: int = 1000,
    block_chunks: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash: pigeonhole block join (guaranteed recall
    to hamming ≤ n_chunks−block_chunks), exact hamming verify on
    candidates. See ``_simhash_candidates`` for the block_chunks keyspace
    tradeoff."""
    cand, _ = _simhash_candidates(
        df, text_col, id_col, n_chunks, max_bucket_size,
        block_chunks=block_chunks,
    )
    return (
        cand.select(
            "id_a", "id_b", hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n_chunks: int = 8,
    max_bucket_size: int = 1000,
    features: str = "tokens",
    prefilter_hamming: int = 5,
    block_chunks: int | str = "auto",
    eager: bool = False,
    reliable_checkpoint: bool | None = None,
) -> DataFrame:
    """Near-dup pairs: SimHash block buckets generate candidates, a cheap
    hamming prefilter (xor + bit_count on two longs, applied before any
    shuffle) discards bucket noise, exact shingle-Jaccard verifies the
    survivors — the Manku WWW'07 pipeline with a content check at the
    end.

    Recall envelope = 'fingerprints within hamming n_chunks−block_chunks'
    (and ``prefilter_hamming`` should not exceed that bound).

    ``block_chunks="auto"`` (default) derives the keying from a sampled
    fingerprint-dispersion measurement (see ``_auto_block_chunks``):
    the cheapest d whose projected hottest bucket fits the skew cap —
    token-feature and shingle-feature corpora land on a working envelope
    without tuning, and the chosen value is recorded on the result as
    ``out._block_chunks``. Explicit values retain the semantics below:
    d=3 is the deep-scale keying (C(8,3)=56 tables on 24 bits —
    occupancy ~n/2²⁴, safe to billions of docs); token-feature
    fingerprints of J ≥ 0.9 pairs measure hamming ≤ 5 on the synthetic
    corpus, so the envelope keeps them (shingle features spread true
    pairs to ~10, needing more chunks — pick features + n_chunks
    together). ``block_chunks=1, prefilter_hamming=7`` widens the
    envelope to hamming ≤ 7 but each table then has only 256 possible
    buckets, so beyond ~10⁵ docs the skew cap drops every bucket — an
    explicit SMALL-CORPUS opt-in only. minhash_lsh (64-bit band keys
    from the start) is the other scale-safe candidate generator for the
    same Jaccard predicate.

    When ``eager``, the verified pair set is materialized. Either way
    the skew-capped buckets ride on the result as the frame
    ``out._dropped_buckets`` (see ``_finish_near_dup``)."""
    if block_chunks == "auto":
        block_chunks = _auto_block_chunks(
            df, text_col, features, n_chunks, max_bucket_size, prefilter_hamming
        )
    cand, dropped = _simhash_candidates(
        df, text_col, id_col, n_chunks, max_bucket_size,
        features=features, prefilter_hamming=prefilter_hamming,
        block_chunks=block_chunks,
    )
    pairs = cand.select("id_a", "id_b").persist()
    out = _exact_jaccard_on_pairs(pairs, df, text_col, id_col, threshold)
    res = _finish_near_dup(out, dropped, [pairs], eager, reliable_checkpoint)
    res._block_chunks = block_chunks
    return res


# --- exact pairwise Jaccard (small-scale oracle) --------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via inverted index: explode shingles,
    self-join on shingle, count shared, derive union from per-doc sizes.
    Quadratic in the worst case — the verification oracle for minhash_lsh,
    not the 100 TB path."""
    docs = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    ).withColumn("n_sh", F.size("sh"))
    # explode_outer: plain explode lets InferFiltersFromGenerate push an
    # inferred size(sh)>0 filter below the projection, re-inlining (and
    # re-evaluating) the whole shingle build per row; the equi-join
    # drops the null rows the outer variant emits for empty docs.
    inv = docs.select("id", "n_sh", F.explode_outer("sh").alias("g"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- connected components over near-dup pairs ----------------------------------


def _cc_driver_numpy(ua, ub, max_rounds: int = 64):
    """Min-label propagation + pointer jumping over numpy arrays — the
    in-memory kernel of the bounded-driver CC fast path. Same fixpoint
    as the distributed loop (exact components, label = min id). Works
    for any numpy-orderable id dtype (ints, strings): ``np.unique``
    sorts ids ascending, so min over INDICES equals min over IDS."""
    import numpy as np  # noqa: PLC0415

    ids, inv = np.unique(np.concatenate([ua, ub]), return_inverse=True)
    ui, vi = inv[: len(ua)], inv[len(ua) :]
    lab = np.arange(len(ids))
    for _ in range(max_rounds):
        old = lab.copy()
        np.minimum.at(lab, ui, lab[vi])
        np.minimum.at(lab, vi, lab[ui])
        lab = np.minimum(lab, lab[lab])  # pointer jump
        if np.array_equal(lab, old):
            break
    # fully collapse labels (lab may still point at a non-root after the
    # last improving round; iterate the jump to the fixpoint — O(log n))
    while True:
        nxt = lab[lab]
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    return ids, ids[lab]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    reliable_checkpoint: bool | None = None,
    driver_max_edges: int | None = 2_000_000,
) -> DataFrame:
    """Distributed connected components over an undirected pair list —
    the clustering step that turns near-dup PAIRS into dedup CLUSTERS
    (transitive closure: if A~B and B~C, all three are one group even
    when A~C never surfaced as a candidate).

    Algorithm: min-label propagation with POINTER JUMPING — each round
    every node takes the min label over itself, its neighbors, and its
    current label's label (c(u) ← min(c(u), c(N(u)), c(c(u)))). The
    neighbor step alone converges in O(diameter) rounds (near-dup
    clusters are dense — typically ≤3); the pointer-jump step collapses
    pathological chains in O(log n) like the alternating-star algorithms
    (Kiveris et al., "Connected Components in MapReduce and Beyond").
    Each iteration is two joins on 16-byte rows + a lineage cut (keeps
    the plan from growing with iterations — the iterative-Spark lineage
    trap); convergence is an exact fixpoint test, so the result is the
    EXACT components, not an approximation. The cut uses the RELIABLE
    ``df.checkpoint()`` when a checkpoint dir is configured (multi-hour
    100-TB runs survive executor loss), ``localCheckpoint`` otherwise —
    see operators/lineage.py; ``reliable_checkpoint`` forces either.

    Returns (id, component) for every id appearing in ``pairs`` —
    component = the min id of the cluster. Ids with no pairs are their
    own singletons and are simply absent (callers treat missing as
    identity, see dedup_by_component).

    ``driver_max_edges``: bounded-driver fast path (same escape pattern
    as patternize's bounded broadcast and the embedding gather bound).
    The pair list is probed with ``limit(bound+1)``; when it fits, the
    components are computed in ONE numpy pass on the driver (a near-dup
    graph's edge list is pair-derived and tiny relative to the corpus —
    2M edges is 32 MB of Arrow) instead of ~5 Spark jobs per
    propagation round. Larger graphs (or non-Arrow-collectable / null
    ids) take the distributed loop unchanged. ``None`` forces the
    distributed loop."""
    e = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))

    if driver_max_edges is not None:
        import numpy as np  # noqa: PLC0415

        dt_a = pairs.schema[id_a].dataType
        dt_b = pairs.schema[id_b].dataType
        probe = None
        if dt_a == dt_b:
            try:
                probe = e.limit(driver_max_edges + 1).toArrow()
            except Exception:  # non-Arrow-convertible id type  # noqa: BLE001
                probe = None
        if probe is not None and probe.num_rows <= driver_max_edges:
            ua = probe.column("u")
            ub = probe.column("v")
            if ua.null_count == 0 and ub.null_count == 0:
                spark = pairs.sparkSession
                dt = dt_a.simpleString()
                if probe.num_rows == 0:
                    return spark.createDataFrame([], f"id {dt}, component {dt}")
                ids, comps = _cc_driver_numpy(
                    np.asarray(ua.to_pandas()), np.asarray(ub.to_pandas())
                )
                return spark.createDataFrame(
                    pd.DataFrame({"id": ids, "component": comps}),
                    f"id {dt}, component {dt}",
                )
            # null ids: keep the distributed loop's join-key semantics

    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    sym = sym.persist()
    comp = truncate_lineage(
        sym.select("u").distinct().withColumn("c", F.col("u")),
        reliable=reliable_checkpoint,
    )
    for _i in range(max_iter):
        nbr = (
            sym.join(
                comp.select(F.col("u").alias("_v"), F.col("c").alias("_nc")),
                sym["v"] == F.col("_v"),
            )
            .groupBy("u")
            .agg(F.min("_nc").alias("_nmin"))
        )
        stepped = (
            comp.join(nbr, "u", "left")
            .select(
                "u",
                F.least(F.col("c"), F.coalesce("_nmin", "c")).alias("c"),
                F.col("c").alias("_pc"),
            )
        )
        roots = stepped.select(F.col("u").alias("_r"), F.col("c").alias("_rc"))
        # the previous label rides along as _pc so convergence is read
        # off the CHECKPOINTED frame with a cheap scan — the old
        # change-count join of jumped vs comp was one extra join +
        # shuffle per round
        jumped = truncate_lineage(
            stepped.join(roots, stepped["c"] == F.col("_r"), "left")
            .select(
                "u",
                F.least(F.col("c"), F.coalesce("_rc", "c")).alias("c"),
                "_pc",
            ),
            reliable=reliable_checkpoint,
        )
        changed = jumped.filter(F.col("c") != F.col("_pc")).count()
        comp = jumped.drop("_pc")
        if changed == 0:
            break
    sym.unpersist()
    return comp.select(F.col("u").alias("id"), F.col("c").alias("component"))


def dedup_by_component(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_component: bool = False,
) -> DataFrame:
    """Cluster-level near-dup removal: run ``connected_components`` on
    the pair list and keep ONE representative per cluster (the min id) —
    the transitively-correct version of pairwise loser-dropping
    (``minhash_dedup`` keeps every locally-minimal doc; a chain A~B~C
    without the A~C pair keeps A only here). Docs in no pair survive
    untouched. With ``keep_component`` the surviving rows carry their
    cluster id (for cluster-size stats / provenance)."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    losers = comp.filter(F.col("id") != F.col("component"))
    out = df.join(
        losers.select(F.col("id").alias(id_col)), id_col, "left_anti"
    )
    if keep_component:
        reps = comp.select(
            F.col("id").alias(id_col), F.col("component")
        ).filter(F.col(id_col) == F.col("component"))
        out = out.join(reps, id_col, "left").withColumn(
            "component", F.coalesce("component", F.col(id_col))
        )
    return out


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster-level near-dup removal with a QUALITY policy: one
    representative per connected component, chosen as argmax(score)
    with min-id tie-break — "keep the longest / highest-quality copy",
    the curation policy real pipelines want instead of
    ``dedup_by_component``'s arbitrary min-id.

    Returns the surviving rows of ``df`` (all columns) plus their
    ``component`` (singletons: component = own id). Plan shape: the
    component map is pair-derived and therefore tiny relative to the
    corpus (only clustered ids appear); the argmax is one
    ``row_number`` rank per component on it (score descending, NULL
    scores last, then min id — the same for every id type), and the
    corpus pays exactly two id-keyed semi/anti joins — text never
    shuffles."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("_s")),
        "id",
    )
    w = W.partitionBy("component").orderBy(F.col("_s").desc_nulls_last(), "id")
    reps = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("id")
    )
    losers = scored.join(reps, "id", "left_anti").select(F.col("id").alias(id_col))
    out = df.join(losers, id_col, "left_anti")
    comp_map = comp.select(F.col("id").alias(id_col), "component")
    return out.join(comp_map, id_col, "left").withColumn(
        "component", F.coalesce("component", F.col(id_col))
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_line_chars: int = 1,
    target: str | None = None,
    hash_lines: bool = True,
) -> DataFrame:
    """Cross-document LINE dedup: remove lines that appear (as a full
    line) in >= ``min_docs`` distinct documents — the boilerplate pass
    (headers, footers, nav bars, license blocks) that document-level
    dedup cannot touch because the surrounding text differs.

    Lines shorter than ``min_line_chars`` are exempt (never removed):
    blank lines and short connectives repeat across documents for
    benign reasons. Documents whose every line is removed come back as
    ``''``; NULL text stays NULL. Line order is preserved.

    Shape at scale: posexplode -> distinct (doc, line) -> count per line
    -> anti-join -> per-doc ordered re-assembly (one aggregate). With
    ``hash_lines`` (default) the distinct/count/anti-join phases key on
    xxhash64(line) so the two count shuffles and the join carry 8-byte
    keys instead of full line text; a 64-bit collision (~N^2/2^65 for N
    distinct lines) could at worst drop one extra repeated line. The
    gate oracle runs ``hash_lines=False`` (byte-exact, DuckDB-checkable).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    key = F.xxhash64("_line") if hash_lines else F.col("_line")
    eligible = lines.filter(F.length("_line") >= min_line_chars)
    boiler = (
        eligible.select(F.col(id_col), key.alias("_lkey"))
        .distinct()
        .groupBy("_lkey")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .filter(F.col("_ndocs") >= min_docs)
        .select("_lkey")
    )
    kept = lines.withColumn("_lkey", key).join(boiler, "_lkey", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda x: x["_line"],
            ),
            "\n",
        ).alias("_rebuilt")
    )
    out_col = target or text_col
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(
            out_col,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
                F.coalesce("_rebuilt", F.lit(""))
            ),
        )
        .drop("_rebuilt")
    )
