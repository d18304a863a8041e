"""Dedup operator tests: exact, MinHash-LSH (vs exact Jaccard oracle),
SimHash, n-gram pairs — on planted near-duplicates."""

import pytest

from syslog_ng_spark.operators import dedup as D

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # 1-word change → high jaccard
FAR = (
    "completely different content about spark dataframes shuffles and "
    "catalyst optimizer rules with no overlap to speak of at all here"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, NEAR),
        (3, FAR),
        (4, BASE),          # exact duplicate of 1
        (5, "  THE QUICK brown fox jumps over the lazy dog while the cat watches from the warm windowsill and the birds sing in the garden outside "),  # normalized dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = D.exact_dedup(docs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 2, 3]  # 4 and 5 collapse onto 1


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs or (1, 4) in pairs
    assert (1, 4) in pairs  # exact dup always survives
    assert not any(3 in p for p in pairs)  # FAR is not a near-dup


def test_minhash_vs_exact_jaccard_oracle(docs):
    lsh = {(r.id_a, r.id_b): r.jaccard for r in D.minhash_lsh(docs, threshold=0.5).collect()}
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # verified jaccard values are computed on true shingles → identical where both report
    for pair, j in lsh.items():
        assert pair in exact
        assert abs(exact[pair] - j) < 1e-9


def test_minhash_dedup_drops_losers(docs):
    kept = sorted(r.doc_id for r in D.minhash_dedup(docs, threshold=0.5).collect())
    assert 1 in kept and 3 in kept
    assert 4 not in kept


def test_simhash_near_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in D.simhash_pairs(docs, max_hamming=8).collect()}
    assert (1, 4) in pairs  # identical docs at hamming 0
    assert (1, 2) in pairs  # near dup within 8 bits
    assert not any(3 in p for p in pairs)


def test_simhash_deterministic(spark, docs):
    from pyspark.sql import functions as F

    a = docs.select(D.simhash(F.col("text")).alias("h")).collect()
    b = docs.select(D.simhash(F.col("text")).alias("h")).collect()
    assert [r.h for r in a] == [r.h for r in b]


def test_minhash_bucket_cap_defuses_hot_bucket(spark):
    """A boilerplate cluster (2000 identical docs) would otherwise create
    a 2000-doc LSH bucket -> 2M candidate pairs per band. With the cap,
    those buckets drop (accounted), while distinct near-dup pairs outside
    the hot cluster are still found."""
    hot = [(i, "identical boilerplate text repeated everywhere forever and ever again") for i in range(2000)]
    cold = [(10_001, BASE), (10_002, NEAR), (10_003, FAR)]
    df = spark.createDataFrame(hot + cold, "doc_id long, text string")
    out = D.minhash_lsh(df, threshold=0.5, max_bucket_size=100, eager=True)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (10_001, 10_002) in pairs           # cold near-dup found
    assert not any(a < 2000 and b < 2000 for a, b in pairs)  # hot bucket dropped
    # without the cap the same corpus yields the quadratic candidate set
    uncapped = D.minhash_lsh(
        df.filter("doc_id >= 1990"), threshold=0.5, max_bucket_size=None
    )
    n = uncapped.count()
    assert n == 10 * 9 / 2 + 1  # C(10,2) hot pairs + the cold pair


def test_simhash_near_dup_matches_exact_jaccard(docs):
    # This handcrafted fixture has J>=0.5 pairs whose token fingerprints
    # sit at hamming 6-7 — outside the scale-safe default envelope
    # (block_chunks=3 guarantees only hamming <= 5). The wide d=1 keying
    # is the documented small-corpus opt-in that recovers them.
    got = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_dup(
            docs, threshold=0.5, block_chunks=1, prefilter_hamming=7
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == exact


def test_simhash_pairs_chunk_width_param(docs):
    # 8 chunks of 8 bits: recall guaranteed to hamming <= 7
    out = D.simhash_pairs(docs, max_hamming=7, n_chunks=8)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 4) in pairs  # identical fingerprints, hamming 0


def _near_dup_family(spark, family, eager, cap):
    """One capped-or-uncapped run of a near-dup family over a hot
    cluster: 30 identical docs (or vectors) share every bucket."""
    if family == "embedding":
        from syslog_ng_spark.operators.similarity import embedding_near_dup

        vecs = spark.createDataFrame(
            [(i, [1.0] * 8) for i in range(30)], "vec_id long, embedding array<double>"
        )
        return embedding_near_dup(
            vecs, threshold=0.99, dim=8, n_planes=4, n_tables=4,
            max_bucket_size=cap, eager=eager,
        )
    docs = spark.createDataFrame(
        [(i, "same boilerplate words every single time") for i in range(30)],
        "doc_id long, text string",
    )
    if family == "winnow":
        from syslog_ng_spark.operators.winnow import winnow_pairs

        return winnow_pairs(docs, threshold=0.1, max_bucket_size=cap)
    fn = D.minhash_lsh if family == "minhash" else D.simhash_near_dup
    return fn(docs, threshold=0.5, max_bucket_size=cap, eager=eager)


@pytest.mark.parametrize(
    "family, eager",
    [
        ("minhash", False), ("minhash", True),
        ("simhash", False), ("simhash", True),
        ("winnow", False),  # winnow_pairs is always lazy
        ("embedding", False), ("embedding", True),
    ],
    ids=lambda v: {False: "lazy", True: "eager"}.get(v, v),
)
def test_near_dup_cap_audit(spark, family, eager):
    """The skew cap is never silent: every family records the dropped
    buckets as the same ``_dropped_buckets`` frame (each bucket above
    the cap, with its size), eager or lazy; uncapped runs record None."""
    capped = _near_dup_family(spark, family, eager, cap=10)
    dropped = capped._dropped_buckets.collect()
    assert dropped
    assert all(r.bucket_size > 10 for r in dropped)
    assert _near_dup_family(spark, family, eager, cap=None)._dropped_buckets is None


def _synthetic_corpus(spark, n_docs: int, n_dups: int):
    """n_docs random 12-token docs (seeded) + n_dups near-dups formed by
    swapping the last two tokens of doc i (same token multiset -> simhash
    fingerprint hamming == 0; shingle-Jaccard ~0.54)."""
    import random

    rng = random.Random(42)
    vocab = [f"tok{v}" for v in range(5000)]
    base = [(i, " ".join(rng.choice(vocab) for _ in range(12))) for i in range(n_docs)]
    dups = []
    for j in range(n_dups):
        toks = base[j][1].split()
        toks[-1], toks[-2] = toks[-2], toks[-1]
        dups.append((n_docs + j, " ".join(toks)))
    return spark.createDataFrame(base + dups, "doc_id long, text string")


def test_simhash_block_chunks_survive_corpus_scale(spark):
    """The 100-TB keyspace fix (Manku WWW'07 block combinations): with
    d=1 each of the 8 tables has only 256 possible bucket keys, so at
    50k docs every bucket blows the skew cap and recall collapses to 0.
    Re-keying on 3-chunk combinations (C(8,3)=56 tables, 24-bit keyspace)
    keeps buckets tiny and recovers every planted pair, with the
    pigeonhole guarantee intact to hamming <= 8-3 = 5."""
    df = _synthetic_corpus(spark, 50_000, 30)
    planted = {(j, 50_000 + j) for j in range(30)}

    naive = D.simhash_near_dup(
        df, threshold=0.5, n_chunks=8, block_chunks=1,
        prefilter_hamming=5, max_bucket_size=50, eager=True,
    )
    naive_pairs = {(r.id_a, r.id_b) for r in naive.collect()}
    # recall collapses (a stray pair can luck into a rare low-occupancy
    # bucket — fingerprint bits are biased on short docs)
    assert len(planted & naive_pairs) <= 3
    assert naive._dropped_buckets.count() >= 8 * 200  # ...audited as dropped

    # DEFAULT arguments (block_chunks='auto') must measure the
    # dispersion, land on the deep keying (d=3 at this cap) and give
    # full recall — a user calling the operator naively on 50k docs
    # must not hit the d=1 saturation cliff.
    blocked = D.simhash_near_dup(df, threshold=0.5, max_bucket_size=50, eager=True)
    got = {(r.id_a, r.id_b) for r in blocked.collect()}
    assert planted <= got                     # 100% recall on planted dups
    assert blocked._dropped_buckets.count() == 0  # keyspace no longer saturates


def test_connected_components_exact(spark):
    """Label-prop + pointer-jump CC: exact components on a graph with a
    chain (pathological for pure neighbor propagation), a clique, and a
    2-cycle; singletons absent from pairs are absent from output."""
    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5, clique {10,11,12} (all pairs), pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (11, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # 200-node path: pointer jumping must converge inside max_iter
    # (plain neighbor-min would need ~200 rounds)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    # driver_max_edges=None forces the DISTRIBUTED loop — this test pins
    # the pointer-jumping convergence bound, not the driver fast path
    comp = D.connected_components(pairs, max_iter=25, driver_max_edges=None).collect()
    assert {r.component for r in comp} == {0}
    assert len(comp) == 201


def test_connected_components_driver_path_parity(spark):
    """The bounded-driver numpy fast path returns byte-identical
    components to the distributed loop — chain + clique + cycle, long
    ids and string ids, and the over-bound escape to distributed."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11), (10, 12), (11, 12), (20, 21), (7, 7)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {(r.id, r.component)
            for r in D.connected_components(pairs, driver_max_edges=None).collect()}
    drv = {(r.id, r.component)
           for r in D.connected_components(pairs).collect()}
    assert drv == dist
    # schema parity (dedup_by_component joins on these columns/types)
    out = D.connected_components(pairs)
    assert [f.name for f in out.schema.fields] == ["id", "component"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]

    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    sdrv = {(r.id, r.component) for r in D.connected_components(spairs).collect()}
    sdist = {(r.id, r.component)
             for r in D.connected_components(spairs, driver_max_edges=None).collect()}
    assert sdrv == sdist == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}

    # bound exceeded -> distributed escape, same answer
    over = {(r.id, r.component)
            for r in D.connected_components(pairs, driver_max_edges=3).collect()}
    assert over == dist

    # empty pair list -> empty frame with the right schema, no crash
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(empty).count() == 0


def test_dedup_by_component_transitive(spark):
    """A~B and B~C without the A~C pair: cluster dedup keeps only A
    (pairwise loser-dropping also drops B,C here — but the component
    id is what makes the mapping auditable)."""
    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "aab"), (3, "abb"), (9, "zzz")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = D.dedup_by_component(docs, pairs, keep_component=True).collect()
    assert {(r.doc_id, r.component) for r in out} == {(1, 1), (9, 9)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """VERDICT r4 #2: with a checkpoint dir configured, the per-iteration
    lineage cut upgrades to the RELIABLE df.checkpoint() (executor-loss
    safe on multi-hour cluster runs) and the components are identical to
    the localCheckpoint run."""
    import random

    rng = random.Random(7)
    pairs = [(i, i + 1) for i in range(0, 40)]  # one long chain
    pairs += [(rng.randrange(100, 150), rng.randrange(100, 150)) for _ in range(30)]
    pdf = spark.createDataFrame(
        [(a, b) for a, b in pairs if a != b], "id_a long, id_b long"
    )
    # driver_max_edges=None: the checkpoint machinery only engages on
    # the distributed loop (the driver fast path has no lineage to cut)
    local = {(r.id, r.component) for r in D.connected_components(pdf, reliable_checkpoint=False, driver_max_edges=None).collect()}

    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        from syslog_ng_spark.operators.lineage import has_reliable_checkpoint_dir

        assert has_reliable_checkpoint_dir(pdf)
        # auto mode picks the reliable path now
        auto = {(r.id, r.component) for r in D.connected_components(pdf, driver_max_edges=None).collect()}
        forced = {
            (r.id, r.component)
            for r in D.connected_components(pdf, reliable_checkpoint=True, driver_max_edges=None).collect()
        }
        assert auto == local and forced == local
        # checkpoint files actually landed in the dir
        import os

        assert any(os.scandir(str(tmp_path / "ckpt")))
    finally:
        # restore: Option(null) unsets cleanly on the Scala side
        sc._jsc.setCheckpointDir(prev)


def test_reliable_checkpoint_requires_dir(spark):
    from syslog_ng_spark.operators.lineage import truncate_lineage

    df = spark.range(3)
    if spark.sparkContext.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="checkpoint dir"):
            truncate_lineage(df, reliable=True)
    # localCheckpoint path always works
    assert truncate_lineage(df, reliable=False).count() == 3


def test_simhash_auto_keying(spark):
    """block_chunks='auto' (TODO r4): small corpora get the cheapest
    keying (d=1, 8 tables), large biased corpora the deep keying —
    derived from sampled fingerprint dispersion, no user tuning, chosen
    value recorded on the result."""
    small = _synthetic_corpus(spark, 200, 10)
    out = D.simhash_near_dup(small, threshold=0.5, max_bucket_size=50, eager=True)
    assert out._block_chunks == 1  # 200 docs: projected buckets tiny
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(j, 200 + j) for j in range(10)} <= got
    # no cap: cheapest keying unconditionally
    out2 = D.simhash_near_dup(small, threshold=0.5, max_bucket_size=None, eager=True)
    assert out2._block_chunks == 1


def test_simhash_auto_keying_shingle_features(spark):
    """Auto keying with shingle features: exact dups (identical text →
    hamming 0, shingle-Jaccard 1.0) are fully recovered without any
    manual n_chunks/block_chunks choice."""
    import random

    rng = random.Random(11)
    vocab = [f"w{v}" for v in range(2000)]
    base = [(i, " ".join(rng.choice(vocab) for _ in range(15))) for i in range(3000)]
    dups = [(3000 + j, base[j][1]) for j in range(20)]
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    out = D.simhash_near_dup(
        df, threshold=0.9, features="shingles", max_bucket_size=100, eager=True
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert {(j, 3000 + j) for j in range(20)} <= got
    assert out._block_chunks in (1, 2, 3)


class TestLineDedup:
    """Cross-document boilerplate line removal (dedup.line_dedup)."""

    ROWS = [
        (1, "HDR\nunique one\nFOOT"),
        (2, "HDR\nunique two\nFOOT"),
        (3, "HDR\nFOOT"),          # all lines boilerplate -> ''
        (4, "solo text"),           # untouched
        (5, None),                  # NULL stays NULL
        (6, "ab\nHDR\nab"),         # 'ab' repeats only within ONE doc -> kept
    ]
    EXPECT = {
        1: "unique one",
        2: "unique two",
        3: "",
        4: "solo text",
        5: None,
        6: "ab\nab",
    }

    @pytest.mark.parametrize("hash_lines", [True, False])
    def test_boilerplate_removed_order_kept(self, spark, hash_lines):
        from syslog_ng_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(self.ROWS, "doc_id long, text string")
        out = {
            r.doc_id: r.text
            for r in line_dedup(
                df, min_line_chars=2, hash_lines=hash_lines
            ).collect()
        }
        assert out == self.EXPECT

    def test_short_lines_exempt(self, spark):
        from syslog_ng_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "x\nkeep me\nx"), (2, "x\nother\nx")], "doc_id long, text string"
        )
        out = {
            r.doc_id: r.text
            for r in line_dedup(df, min_line_chars=2).collect()
        }
        # 'x' is below min_line_chars: repeated across docs yet kept
        assert out == {1: "x\nkeep me\nx", 2: "x\nother\nx"}

    def test_min_docs_threshold(self, spark):
        from syslog_ng_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(i, "shared line\nuniq %d" % i) for i in range(4)],
            "doc_id long, text string",
        )
        out3 = line_dedup(df, min_docs=5)
        assert all(r.text.startswith("shared") for r in out3.collect())
        out2 = line_dedup(df, min_docs=4)
        assert all(r.text == "uniq %d" % r.doc_id for r in out2.collect())

    def test_target_column(self, spark):
        from syslog_ng_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(1, "dup\na1"), (2, "dup\nb2")], "doc_id long, text string"
        )
        out = line_dedup(df, target="clean").collect()
        for r in out:
            assert r.text.startswith("dup\n")
            assert r.clean in ("a1", "b2")
