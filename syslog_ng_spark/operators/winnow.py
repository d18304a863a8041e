"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
local fingerprinting algorithm) and the MOSS-style near-dup pairs built
on them.

Where minhash (dedup.py) estimates whole-document Jaccard and simhash
hunts small hamming balls, winnowing gives a *coverage guarantee*: any
shared token run of length >= window + k - 1 produces at least one
shared fingerprint, so candidate generation has recall exactly 1 for
local overlaps of that length — no probabilistic gap to argue about.
That makes it the right family for contamination-style matching (shared
passages) as opposed to near-identical documents.

Reference anchors (parity targets, not code sources): the engine plays
the role of syslog-ng's message-identity layer — exact_dedup's
normalized-hash identity (`modules/dbld`-era dedup has no direct
analogue; SURVEY maps dedup to the LLM-curation extension set) — and
the fingerprint set is the curation analogue of PatternDB's
"same-cluster" grouping over free text.

Algorithm (both engines compute the identical set):
  1. normalize: lower(trim(text)), tokenize on ``[^a-zA-Z0-9_]+``
     (ASCII word chars — the exact JVM ``\\w`` class, matching
     dedup.tokenize and every DuckDB oracle in the gate).
  2. k-grams joined with ' '; documents with 1..k-1 tokens fall back to
     one whole-text gram (same fallback as dedup.shingles); empty docs
     emit nothing.
  3. gram hash = first 16 hex chars of md5(gram) — a STRING. Hex strings
     order identically in the JVM, Python and DuckDB, so "min hash in
     window" is portable across all three with no base conversion.
  4. winnow: over every window of ``window`` consecutive gram hashes
     take the minimum; the fingerprint set is the distinct minima.
     With g grams there are max(g - window + 1, 1) windows (one clamped
     window when g < window).

Engines:
  * ``pandas`` (default, the 100 TB path): one Arrow-batched pandas UDF
    maps text -> array<fingerprint> per row. Zero shuffle, zero data
    multiplication before the caller's aggregation — the explode happens
    AFTER per-doc winnowing, emitting ~g/window rows/doc instead of g.
    A monotonic-deque sliding minimum keeps it O(g) per doc.
  * ``sql`` — pure built-ins: posexplode the gram array, min() over a
    bounded following window, filter to window starts, distinct. This is
    literally the DuckDB oracle's plan, kept as the cross-engine
    equality check (tests assert pandas == sql on real corpora).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import (
    _bucket_pairs,
    _cap_buckets,
    _ensure_parallelism,
    _finish_near_dup,
    _norm_text,
)


def _grams(c: Column, k: int) -> Column:
    """k-gram array with the whole-text fallback for short docs; empty
    array for empty/NULL text."""
    toks = F.filter(F.split(_norm_text(c), r"[^\w]+"), lambda t: t != "")
    whole = F.when(
        F.size(toks) >= 1, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.array().cast("array<string>"))
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(whole)


def _winnow_py(text, k: int, window: int) -> list:
    """Single-doc winnow in Python — the pandas engine's kernel and the
    property tests' executable spec."""
    import hashlib  # noqa: PLC0415
    import re  # noqa: PLC0415
    from collections import deque  # noqa: PLC0415

    if text is None:
        return []
    toks = [t for t in re.split(r"[^a-zA-Z0-9_]+", text.strip().lower()) if t]
    if not toks:
        return []
    if len(toks) >= k:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        grams = [" ".join(toks)]
    hs = [hashlib.md5(g.encode("utf-8")).hexdigest()[:16] for g in grams]
    n = len(hs)
    if n <= window:
        return [min(hs)]
    fps = set()
    dq: deque = deque()  # indices, hs increasing — classic sliding min
    for i, h in enumerate(hs):
        while dq and hs[dq[-1]] >= h:
            dq.pop()
        dq.append(i)
        if dq[0] <= i - window:
            dq.popleft()
        if i >= window - 1:
            fps.add(hs[dq[0]])
    return sorted(fps)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    engine: str = "pandas",
) -> DataFrame:
    """Distinct ``(id_col, fp)`` winnowing fingerprints per document.

    ``engine='pandas'``: per-row Arrow UDF, no shuffle (the scale path).
    ``engine='sql'``: posexplode + bounded window min — the DuckDB
    oracle's exact plan, for cross-engine verification."""
    if engine == "pandas":

        @F.pandas_udf("array<string>")
        def _fps(s: pd.Series) -> pd.Series:
            return s.map(lambda t: _winnow_py(t, k, window))

        out = _ensure_parallelism(df).select(
            F.col(id_col), F.explode(_fps(F.col(text_col))).alias("fp")
        )
        # per-doc sets are already distinct (set() in the kernel)
        return out

    if engine != "sql":
        raise ValueError(f"unknown winnow engine {engine!r}")

    from pyspark.sql import Window as W  # noqa: PLC0415

    # materialize the gram array BEFORE hashing per element: the grams
    # expression embeds the tokenizer regex and CASE-WHEN disables CSE
    g = df.select(F.col(id_col), _grams(F.col(text_col), k).alias("_gs"))
    g = g.select(
        F.col(id_col),
        F.size("_gs").alias("_gcnt"),
        F.posexplode("_gs").alias("_pos", "_gram"),
    ).withColumn("_h", F.substring(F.md5("_gram"), 1, 16))
    wspec = (
        W.partitionBy(id_col).orderBy("_pos").rowsBetween(0, window - 1)
    )
    return (
        g.withColumn("fp", F.min("_h").over(wspec))
        .filter(F.col("_pos") < F.greatest(F.col("_gcnt") - window + 1, F.lit(1)))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    engine: str = "pandas",
) -> DataFrame:
    """MOSS-style near-dup pairs: documents scored by Jaccard over their
    winnow fingerprint SETS; pairs with score >= ``threshold`` survive.

    Candidate generation is exact, not probabilistic: a pair with any
    shared fingerprint co-occurs in at least one fingerprint bucket, so
    recall is 1 for every pair above any threshold > 0 — the only
    approximation is the LSH skew cap (``max_bucket_size``, same
    non-silent audit contract as minhash_lsh: oversized buckets are
    dropped and recorded as the frame ``out._dropped_buckets``; pass
    None to disable).

    Shuffle budget: fingerprint explode (no exchange, pandas engine) →
    one exchange for per-doc counts, one for the bucket self-join
    (``dedup._bucket_pairs``), one for the pair aggregation, two
    id-keyed joins for the counts. The self-join ships only (id, fp)
    rows — text never crosses the wire.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, window, engine)
    fps = fps.persist()
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nfp"))
    capped, dropped = _cap_buckets(fps, ["fp"], max_bucket_size)
    shared = _bucket_pairs(capped.select(F.col(id_col).alias("id"), "fp"), ["fp"])
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("_nfp").alias("_na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("_nfp").alias("_nb"))
    # n_shared comes from the CAPPED set while _na/_nb come from the full
    # per-doc fingerprint counts, so for a pair whose shared fingerprints
    # partly sit in dropped buckets the reported jaccard is a LOWER BOUND:
    # capping can under-score a pair, never promote it above threshold.
    out = (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared")
            / (F.col("_na") + F.col("_nb") - F.col("n_shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _finish_near_dup(out, dropped, [fps])


def winnow_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
    keep: bool = False,
) -> DataFrame:
    """Benchmark decontamination over winnow fingerprints instead of the
    full n-gram set (decontaminate.py): both sides winnow with the same
    (k, window), the benchmark's fingerprint set is broadcast, and a
    corpus doc is contaminated when it shares >= ``min_shared``
    fingerprints.

    Trade vs full n-gram probing: the broadcast index is ~2/(window+1)
    the size (only window minima survive — here ~22 fps per 57-gram doc
    vs 57 grams), and the corpus probes proportionally fewer keys. The
    guarantee weakens correspondingly: a shared run is DETECTED IFF it
    spans >= window + k - 1 tokens (the winnowing theorem — tested at 2M
    docs, recall exactly 1.0); shorter overlaps can escape. Pick
    (k, window) so window + k - 1 equals the contamination n you'd have
    used with decontaminate(n=...).

    Returns the clean corpus rows (or, with ``keep``, all rows +
    ``n_shared_fps`` + ``contaminated`` audit columns — the non-silent
    variant)."""
    bench_fps = (
        winnow_fingerprints(benchmark, text_col, id_col, k, window)
        .select("fp")
        .distinct()
    )
    corpus_fps = winnow_fingerprints(corpus, text_col, id_col, k, window)
    hits = (
        corpus_fps.join(F.broadcast(bench_fps), "fp", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )
    if not keep:
        return corpus.join(hits.select(id_col), id_col, "left_anti")
    out = corpus.join(F.broadcast(hits), id_col, "left")
    return out.withColumn(
        "n_shared_fps", F.coalesce("n_shared_fps", F.lit(0))
    ).withColumn("contaminated", F.col("n_shared_fps") >= min_shared)
