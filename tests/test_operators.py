"""Unit tests for the standalone corpus operators (dedup family,
similarity search, text analysis) on tiny analytic fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from selfclean_spark.functions import text as T
from selfclean_spark.operators import dedup as D
from selfclean_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup of 0
        (2, "alpha beta gamma delta epsilon zeta eta iota"),    # near dup of 0
        (3, "completely different words entirely unrelated text here now"),
        (4, "alpha  beta\tgamma delta epsilon zeta eta theta"), # ws variant of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dup_groups(docs):
    groups = D.exact_dup_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2
    assert groups[0]["representative"] == 0


def test_exact_components(docs):
    comps = {r.id: r.component_id for r in D.exact_components(docs, "doc_id", "text").collect()}
    assert comps[0] == comps[1] == 0
    assert comps[2] == 2 and comps[3] == 3 and comps[4] == 4


def test_token_jaccard_pairs(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.token_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 4)] == 1.0  # whitespace variant: same token set
    assert pairs[(0, 2)] == pytest.approx(7 / 9)
    assert (0, 3) not in pairs


def test_token_jaccard_df_cap_bounds_fanout(spark):
    """A token planted in 50 docs with max_doc_freq=10 is excluded from
    BOTH the inverted index and the per-doc set sizes (capped-vocabulary
    Jaccard) — the hot-token docs generate zero join fan-out while
    unaffected pairs keep their exact scores."""
    rows = [(i, f"common uniq{i}a uniq{i}b") for i in range(50)]
    rows += [(100, "x y z"), (101, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.token_jaccard_pairs(
            df, "doc_id", "text", threshold=0.1, max_doc_freq=10
        ).collect()
    }
    assert pairs[(100, 101)] == 1.0  # capped vocab: {x,y,z} ∩/∪ {x,y,z}
    assert all(a >= 100 for a, _ in pairs), f"hot-token fan-out leaked: {pairs}"


def test_minhash_lsh_pairs_finds_clones(docs):
    edges = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    assert edges[(0, 1)] == 1.0  # exact clone verified at jaccard 1


def test_simhash_near_pairs(docs):
    pairs = {(r.id_a, r.id_b) for r in D.simhash_near_pairs(docs, "doc_id", "text").collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_simhash_blocking_guarantees_radius(spark):
    """n_tables defaults to max_hamming+1 so the pigeonhole guarantee
    covers the WHOLE requested radius — a pair at Hamming h ≤
    max_hamming must be found regardless of which bits differ (the old
    fixed 4-table split silently missed h ≥ 4 pairs)."""
    from selfclean_spark.config import SignatureConfig
    from selfclean_spark.operators import signatures as sig_ops

    # two near-dup texts whose fingerprints differ in >3 bits: a 4-table
    # split has no diff-free 16-bit block guarantee, 9 tables do
    rows = [
        (0, "zeta eta theta iota kappa " * 6),
        (1, "zeta eta theta iota kappa " * 4 + "zeta eta theta iota chi " * 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = SignatureConfig()
    sigs = {
        r.id: r.simhash
        for r in sig_ops.compute_signatures(
            df.select(
                F.col("doc_id").alias("id"),
                F.col("text").alias("content"),
                F.sha2("text", 256).alias("content_sha"),
            ),
            cfg,
        ).collect()
    }
    h = bin((sigs[0] ^ sigs[1]) & (2**64 - 1)).count("1")
    assert 0 < h <= 8, f"fixture drift: hamming {h}"
    pairs = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_pairs(df, "doc_id", "text", max_hamming=8).collect()
    }
    assert (0, 1) in pairs


def test_simhash_block_cap_bounds_hot_families(spark):
    """A planted constant-fingerprint family (10³ identical docs) must
    not explode into m² join rows: every one of its blocks is over the
    cap and gets dropped, while unrelated near-dup pairs survive."""
    family = [(i, "license boilerplate header " * 10) for i in range(1000)]
    others = [
        (2000, "alpha beta gamma delta epsilon zeta eta theta"),
        (2001, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(family + others, "doc_id long, text string")
    pairs = D.simhash_near_pairs(
        df, "doc_id", "text", max_hamming=3, block_cap=100
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (2000, 2001) in got
    # the 1000-doc family contributes nothing (its home is exact dedup)
    assert all(a >= 2000 for a, _ in got), f"family leaked: {len(got)} pairs"


# -- similarity ---------------------------------------------------------------

@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base * 2.0]),          # cosine 1 with 0
        (2, [float(x) for x in base + rng.standard_normal(8) * 0.05]),
        (3, [float(x) for x in -base]),               # cosine -1 with 0
        (4, [float(x) for x in rng.standard_normal(8)]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(vecs):
    res = S.cosine_topk(vecs, vecs.filter("vec_id = 0"), k=2)
    rows = sorted(res.collect(), key=lambda r: r.knn_rank)
    assert rows[0].neighbor_id == 1 and rows[0].cosine == pytest.approx(1.0)
    assert rows[1].neighbor_id == 2 and rows[1].cosine > 0.9


def test_lsh_topk_contains_true_neighbor(vecs):
    res = S.lsh_topk(vecs, k=2, n_bits=4, n_tables=8)
    got = {
        (r.query_id, r.neighbor_id)
        for r in res.collect()
        if r.knn_rank == 1
    }
    # scaled copy lands in identical sign buckets in every table
    assert (0, 1) in got and (1, 0) in got


@pytest.fixture(scope="module")
def many_vecs(spark):
    """60 vectors in 3 well-separated direction clusters + noise."""
    rng = np.random.default_rng(17)
    anchors = rng.standard_normal((3, 8)) * 4.0
    rows = []
    for i in range(60):
        v = anchors[i % 3] + rng.standard_normal(8) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_topk_full_probe_is_exact(many_vecs):
    """n_probe == n_centroids ⇒ exhaustive ⇒ equal to brute force."""
    q = many_vecs.filter("vec_id < 5")
    exact = S.cosine_topk(many_vecs, q, k=3)
    ivf = S.ivf_topk(many_vecs, q, k=3, n_centroids=6, n_probe=6)
    want = {(r.query_id, r.knn_rank, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.knn_rank, r.neighbor_id) for r in ivf.collect()}
    assert got == want


def test_ivf_topk_partial_probe_recall(many_vecs):
    """Clustered data: probing half the cells keeps high top-3 recall."""
    q = many_vecs.filter("vec_id < 10")
    exact = S.cosine_topk(many_vecs, q, k=3)
    ivf = S.ivf_topk(many_vecs, q, k=3, n_centroids=6, n_probe=3)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.8, f"IVF recall {recall} below 0.8"


@pytest.fixture(scope="module")
def vecs_50k(spark):
    """50,000 deterministic clustered vectors (64 direction clusters,
    dim 32), generated distributed with per-id seeding so the corpus is
    identical at any partitioning."""
    import pandas as pd

    dim, n_clusters = 32, 64
    anchors = np.random.default_rng(9).standard_normal((n_clusters, dim)) * 4.0

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = []
            for i in ids:
                noise = np.random.default_rng(int(i)).standard_normal(dim)
                vecs.append(
                    [float(x) for x in anchors[int(i) % n_clusters] + noise * 0.5]
                )
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    df = (
        spark.range(50_000)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
        .persist()
    )
    df.count()
    yield df
    df.unpersist()


def test_ivf_recall_curve_50k(vecs_50k):
    """VERDICT r2 #6: the IVF approximation knob at scale.  At 50k
    vectors, recall vs exact top-10 must be ≥0.9 when probing 1/4 of
    the cells, and the recall curve must be monotone in n_probe."""
    q = vecs_50k.filter("vec_id < 20")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.cosine_topk(vecs_50k, q, k=10).collect()
    }

    def recall(n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in S.ivf_topk(
                vecs_50k, q, k=10, n_centroids=32, n_probe=n_probe
            ).collect()
        }
        return len(exact & got) / len(exact)

    r2, r8 = recall(2), recall(8)
    assert r8 >= 0.9, f"recall at n_probe/n_centroids=1/4 is {r8}"
    assert r8 >= r2, f"recall not monotone: probe2={r2} probe8={r8}"


def test_embedding_cosine_dup_pairs(vecs):
    pairs = {
        (r.id_a, r.id_b)
        for r in S.embedding_cosine_dup_pairs(vecs, threshold=0.99, n_bits=4, n_tables=8).collect()
    }
    assert (0, 1) in pairs
    assert (0, 3) not in pairs  # opposite direction


@pytest.fixture(scope="module")
def hot_family_vecs(spark):
    """1,000 byte-identical embeddings (a degenerate sign-sketch
    bucket) + one well-separated near-dup pair that must still be
    found through the bucket join."""
    rng = np.random.default_rng(9)
    hot = [float(x) for x in rng.standard_normal(8)]
    rows = [(i, hot) for i in range(1000)]
    base = rng.standard_normal(8) + 5.0
    rows.append((2000, [float(x) for x in base]))
    rows.append((2001, [float(x) for x in base * 3.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_vector_lsh_bucket_cap_bounds_hot_families(hot_family_vecs):
    """VERDICT r2 #2: with bucket_cap far below the family size the
    sign-sketch join must not expand m² candidate rows, and the planted
    identical family must still pair (cosine exactly 1.0) via the
    exact-vector fast path (star edges beyond the cap)."""
    pairs = S.embedding_cosine_dup_pairs(
        hot_family_vecs, threshold=0.99, n_bits=4, n_tables=4,
        dim=8, bucket_cap=50,
    ).collect()
    # linear, not quadratic: 999 star edges + the near-dup pair (+ a
    # handful of incidental bucket collisions), nowhere near 499,500
    assert len(pairs) < 1100
    pset = {(r.id_a, r.id_b) for r in pairs}
    assert (2000, 2001) in pset  # found through an under-cap bucket
    covered = set()
    for r in pairs:
        if r.id_b < 1000 and r.cosine == pytest.approx(1.0):
            covered.update((r.id_a, r.id_b))
    assert covered == set(range(1000))  # every copy pairs via exact path


def test_lsh_topk_capped_still_reports_exact_twins(hot_family_vecs):
    res = S.lsh_topk(
        hot_family_vecs, k=1, n_bits=4, n_tables=4, dim=8, bucket_cap=50
    ).collect()
    top1 = {r.query_id: r for r in res if r.knn_rank == 1}
    # an arbitrary hot-family member: its star edge to the family min
    # gives it an exact twin at cosine 1.0 despite the dropped bucket
    assert top1[5].cosine == pytest.approx(1.0)
    assert top1[5].neighbor_id == 0
    # the under-cap near-dup pair still meets through its bucket
    assert top1[2000].neighbor_id == 2001
    assert top1[2000].cosine == pytest.approx(1.0)


# -- text analysis ------------------------------------------------------------

def test_text_functions(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "a b"), (2, "   ")],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        T.token_count("text").alias("tc"),
        T.fingerprint("text").alias("fp"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[0].tc == 4
    assert by_id[1].tc == 2
    assert by_id[2].tc == 0
    # fingerprint is whitespace-insensitive
    df2 = spark.createDataFrame(
        [(0, "The  quick\tbrown fox"), (1, "the quick brown fox")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df2.select(T.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_is_stopword_matches_lower_in(spark):
    """ASCII case folding gives ``lower(t) IN STOPWORDS``'s answer, also on
    the non-ASCII characters whose lowercase is or holds ASCII: U+0130,
    the Kelvin sign U+212A, fullwidth letters and the dotless i."""
    toks = [
        "THE", "tHe", "the", "IS", "\u0130S", "\u0130s", "\u212a",
        "\uff34\uff28\uff25", "\u0131s", "", "th\u00e9",
    ]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    rows = df.select(
        "t",
        T.is_stopword(F.col("t")).alias("got"),
        F.lower("t").isin(T.STOPWORDS).alias("want"),
    ).collect()
    assert [r.got for r in rows] == [r.want for r in rows]
    assert {r.t for r in rows if r.got} == {"THE", "tHe", "the", "IS"}


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [(0, "reasonable words " * 60), (1, "!!!! ???? ####"), (2, "ok")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.q for r in df.select("doc_id", T.quality_score("text").alias("q")).collect()}
    assert 0.0 <= min(rows.values()) and max(rows.values()) <= 1.0
    assert rows[0] > rows[1]  # clean prose beats punctuation soup


# -- connected components: pathological graph shapes --------------------------

def test_cc_long_chain_converges_in_log_rounds(spark):
    """A 1,000-node path graph is the worst case for label propagation
    (diameter = n); large-star/small-star must still collapse it into
    ONE component in O(log² n) rounds, not O(n)."""
    from selfclean_spark.operators.components import connected_components

    n = 1000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(8)
    comps, rounds = connected_components(edges)
    rows = comps.collect()
    assert {r.component_id for r in rows} == {0}
    assert len(rows) == n
    assert rounds <= 15, f"chain took {rounds} rounds (not logarithmic)"


def test_cc_disjoint_cliques_and_star(spark):
    from selfclean_spark.operators.components import connected_components

    edges = []
    # two 30-cliques offset by 1000, plus a 100-leaf star at 5000
    for base in (0, 1000):
        edges += [(base + i, base + j) for i in range(30) for j in range(i + 1, 30)]
    edges += [(5000, 5000 + i) for i in range(1, 101)]
    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(8)
    comps, _ = connected_components(df)
    by_comp = {}
    for r in comps.collect():
        by_comp.setdefault(r.component_id, set()).add(r.id)
    assert by_comp[0] == set(range(30))
    assert by_comp[1000] == {1000 + i for i in range(30)}
    assert by_comp[5000] == {5000} | {5000 + i for i in range(1, 101)}


def test_lsh_topk_planted_query_structural(spark):
    """The planted-copy ANN configuration (queries.lsh_topk_planted)
    is structurally exact: every planted twin pair reports itself at
    rank 1, both directions, and nothing else survives the τ filter —
    the property that puts the ANN surface on the hard-oracle gate."""
    from selfclean_spark import queries as Q

    rows = Q.lsh_topk_planted(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 50
    assert all(r.knn_rank == 1 and r.cosine >= 0.95 for r in rows)
    pairs = {(r.query_id, r.neighbor_id) for r in rows}
    for i in range(25):
        assert (i, i + 1_000_000) in pairs
        assert (i + 1_000_000, i) in pairs


def test_pii_scrub_query_structural(spark):
    """Planted emails/IPs are detected, counted, and redacted; the
    scrubbed text carries no raw PII (queries.pii_scrub)."""
    from selfclean_spark import queries as Q

    rows = Q.pii_scrub(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 50
    for r in rows:
        assert r.n_emails == 1 and r.n_ips == 1
        assert "<EMAIL>" in r.scrubbed_text and "<IP>" in r.scrubbed_text
        assert "@example.com" not in r.scrubbed_text
        assert "10.0." not in r.scrubbed_text


def test_gopher_quality_flags_structural(spark):
    """Gopher-rule gate is non-vacuous on the corpus and internally
    consistent (passes ⇔ every sub-metric within its threshold)."""
    from selfclean_spark import queries as Q

    rows = Q.gopher_quality_flags(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    n_pass = sum(r.passes for r in rows)
    assert 0 < n_pass < 500
    for r in rows[:50]:
        expect = (
            50 <= r.n_words <= 100_000
            and 3.0 <= r.mean_word_len <= 10.0
            and r.symbol_ratio < 0.1
            and r.alpha_frac > 0.8
            and r.n_stopwords >= 2
        )
        assert r.passes == expect


def test_source_mixture_weights_structural(spark):
    """Temperature-0.5 mixing: weights are a probability vector and
    compress the natural shares (small sources upweighted, large ones
    downweighted) — the documented α=0.5 sampling behavior."""
    from selfclean_spark import queries as Q

    rows = Q.source_mixture_weights(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.n_tokens)
    largest = max(rows, key=lambda r: r.n_tokens)
    assert smallest.weight > smallest.token_share
    assert largest.weight < largest.token_share


def _persisted_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_vector_lsh_leaves_no_registered_persist(spark, vecs):
    """r6 contract inversion: the sign-sketch path no longer persists
    its signature table — bucket capping is a count window over the one
    bucket exchange and AQE exchange reuse serves every consumer from
    that shuffle (a cached relation below the exchange would break the
    reuse).  So lsh_topk must register NOTHING with the caching
    registry, and clear() stays a no-op for it.

    Asserted on the caching registry, not global persisted-RDD ids:
    Spark's ContextCleaner unpersists unrelated GC'd relations
    concurrently, so global sets move on their own."""
    from selfclean_spark import caching

    caching.clear(blocking=True)
    res = S.lsh_topk(vecs, k=2, n_bits=4, n_tables=4)
    assert res.count() > 0
    assert caching.unpersist_all() == 0, (
        "lsh_topk must not register operator-level persists (r6 "
        "window-cap shape: the bucket exchange is the shared "
        "materialization)"
    )


def test_packing_stats_structural(spark):
    """Packing-budget invariants: concat packing never needs more
    sequences than no-packing; padding waste is in [0, 1); totals are
    consistent with the token sums."""
    from selfclean_spark import queries as Q

    rows = Q.packing_stats(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 1
    for r in rows:
        assert r.sequences_concat <= r.sequences_nopack
        assert 0.0 <= r.pad_waste_frac < 1.0
        assert r.sequences_nopack * 32 >= r.total_tokens
        assert 0 <= r.n_truncated_docs <= r.n_docs


def test_duplicated_ngram_spans_structural(spark):
    """Cross-doc duplicated-span report: non-empty, df respects the
    floor, and the example doc really contains its span."""
    from selfclean_spark import queries as Q

    rows = Q.duplicated_ngram_spans(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    assert all(r.df >= 5 for r in rows)
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    for r in rows[:20]:
        assert r.gram in " ".join(docs[r.example_doc].split())


def test_holdout_split_counts_structural(spark):
    """Hash-bucket holdout: every doc lands in exactly one split, the
    proportions are near 80/10/10, and the assignment is stable across
    partitionings (pure function of doc_id)."""
    from selfclean_spark import queries as Q

    rows = Q.holdout_split_counts(spark, "/root/testdata/sf0.001").collect()
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert sum(by_split.values()) == 500
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"] + by_split["test"]
    again = Q.holdout_split_counts(spark, "/root/testdata/sf0.001").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_substring_containment_incremental_equals_batch(spark):
    """The incremental edge derivation (session edge cache + 15-doc
    sketch micro-batch LSH-joined against the corpus band index) must
    emit exactly the pair set a from-scratch full-corpus LSH run over
    the planted union emits — the batch twin of the streaming parity
    test, on the real query.  The caches are warmed FIRST: the query
    is adaptive (cold sessions take the batch path), so parity is only
    meaningful with the incremental path engaged."""
    from selfclean_spark import caching
    from selfclean_spark import queries as Q
    from selfclean_spark.operators import dedup as D
    from selfclean_spark.operators import verify as verify_ops

    sf = "/root/testdata/sf0.001"
    caching.clear(blocking=True)
    Q._docs_edges(spark, sf).count()
    assert caching.peek("docs_edges", sf, spark) is not None
    got = sorted(
        (r.inner_id, r.outer_id)
        for r in Q.substring_containment_pairs(spark, sf).collect()
    )

    # from-scratch batch twin (the pre-r5 implementation, inlined)
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    wrapped = d.filter(F.col("doc_id") < Q.WRAP_N).select(
        (F.col("doc_id") + Q.WRAP_SHIFT).alias("doc_id"),
        F.concat("text", F.lit(Q.WRAP_SUFFIX)).alias("text"),
    )
    docs2 = d.unionByName(wrapped)
    edges = D.minhash_lsh_pairs(docs2, "doc_id", "text", Q.DOCS_CFG).select(
        "id_a", "id_b"
    )
    content = docs2.select(
        F.col("doc_id").alias("id"), F.col("text").alias("content")
    )
    confirmed = verify_ops.substring_confirm(edges, content).filter(
        F.col("substring")
    )
    lens = docs2.select("doc_id", F.length("text").alias("n"))
    want = set()
    ln = {r.doc_id: r.n for r in lens.collect()}
    for r in confirmed.select("id_a", "id_b").collect():
        a, b = r.id_a, r.id_b
        if ln[a] < ln[b]:
            want.add((a, b))
        elif ln[b] < ln[a]:
            want.add((b, a))
        else:
            want.add((min(a, b), max(a, b)))
    assert got == sorted(want)
    caching.clear(blocking=True)


def test_substring_containment_warm_cache_signs_only_wrappers(spark, monkeypatch):
    """VERDICT r4 #2 'done' criterion: with the session edge cache
    warm, building the query never runs the full-corpus signature UDF
    — compute_signatures is invoked exactly once, over the 15 wrapper
    docs."""
    from selfclean_spark import caching
    from selfclean_spark import queries as Q
    from selfclean_spark.operators import signatures as sig_ops

    sf = "/root/testdata/sf0.001"
    caching.clear(blocking=True)
    # warm: materialize the session edge cache (and with it the corpus
    # signature cache) the way any other edge-derived query would
    Q._docs_edges(spark, sf).count()

    calls = []
    real = sig_ops.compute_signatures

    def spy(ingested, cfg, keep_shingles=False):
        calls.append(ingested)
        return real(ingested, cfg, keep_shingles=keep_shingles)

    monkeypatch.setattr(
        "selfclean_spark.queries.sig_ops.compute_signatures", spy
    )
    rows = Q.substring_containment_pairs(spark, sf).collect()
    assert len(rows) > 0
    assert len(calls) == 1, "warm-cache query must sign ONLY the wrappers"
    assert calls[0].count() == Q.WRAP_N
    # and the plan reads the cached corpus tables, not fresh scans
    plan = (
        Q.substring_containment_pairs(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan
    caching.clear(blocking=True)


def test_ccnet_and_dsir_semantics(spark):
    """Beyond the value-hash oracles: the data-selection scores must
    actually discriminate.  DSIR weights docs of the target language
    (en) above every other language on average — the paper's basic
    sanity property — and CCNet's tail flag fires on a non-trivial,
    non-total subset."""
    from selfclean_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    dsir = Q.dsir_importance_weights(spark, sf).toPandas()
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "lang"
    ).toPandas()
    j = dsir.merge(docs, on="doc_id")
    means = j.groupby("lang")["log_weight"].mean()
    assert means["en"] == means.max()
    assert all(means["en"] > means[lang] for lang in means.index if lang != "en")

    ccnet = Q.ccnet_perplexity_flags(spark, sf).toPandas()
    n_flag = int(ccnet["tail_flag"].sum())
    assert 0 < n_flag < len(ccnet)
    # flag is exactly the threshold predicate on the emitted score
    # (rounding can't flip it at the chosen cut for this corpus)
    recomputed = ccnet["mean_logprob"] < -3.41
    assert (recomputed == ccnet["tail_flag"]).all()


# -- temporal joins -----------------------------------------------------------

def test_asof_join_strict_prior_and_ties(spark):
    """Analytic as-of semantics: strictly-prior only (a right row at the
    SAME instant is invisible), ties among right rows break on larger
    id, rows with no prior right row get NULLs."""
    from selfclean_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 101, 20), (1, 102, 5), (2, 103, 50)],
        "user long, eid long, t long",
    )
    right = spark.createDataFrame(
        # two right rows at t=10 (tie → eid 202 wins), one at t=20
        # exactly equal to left eid=101 (invisible to it)
        [(1, 201, 10, 1.0), (1, 202, 10, 2.0), (1, 203, 20, 3.0)],
        "user long, eid long, t long, v double",
    )
    out = {
        r.eid: (r.prior_eid, r.prior_v)
        for r in temporal.asof_join(
            left, right, key="user", ts="t", id_col="eid",
            right_cols=["eid", "v"],
        ).collect()
    }
    assert out[100] == (None, None)      # t=10: same-instant rights invisible
    assert out[101] == (202, 2.0)        # t=20: the t=10 tie breaks to 202
    assert out[102] == (None, None)      # t=5: nothing prior
    assert out[103] == (None, None)      # other user: no rights at all


def test_asof_join_single_exchange(spark):
    """The rewrite's whole point: no join operator at all — one
    hash-partition Exchange on the key feeding the window sort."""
    from selfclean_spark.operators import temporal

    left = spark.createDataFrame([(1, 1, 10)], "user long, eid long, t long")
    right = spark.createDataFrame(
        [(1, 2, 5, 1.0)], "user long, eid long, t long, v double"
    )
    plan = temporal.asof_join(
        left, right, key="user", ts="t", id_col="eid", right_cols=["v"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_range_join_exact_and_no_duplicates(spark):
    """Bucket-adjacency join == brute-force range predicate, each pair
    exactly once — including pairs straddling a bucket boundary."""
    from selfclean_spark.operators import temporal

    rows = [(1, i, t) for i, t in enumerate([0, 59, 60, 61, 150, 3600])]
    rows += [(2, 100, 30), (2, 101, 95)]
    df = spark.createDataFrame(rows, "user long, eid long, t long")
    got = sorted(
        (r.id_a, r.id_b, r.dt)
        for r in temporal.range_join(
            df, df, key="user", ts="t", id_col="eid", delta=60
        ).collect()
    )
    brute = sorted(
        (a_eid, b_eid, bt - at)
        for (u1, a_eid, at) in rows
        for (u2, b_eid, bt) in rows
        if u1 == u2 and a_eid < b_eid and abs(bt - at) <= 60
    )
    assert got == brute
    assert len(got) == len(set((a, b) for a, b, _ in got))  # no dupes


def test_temporal_joins_randomized_vs_brute_force(spark):
    """Seeded random event sets (ties included: timestamps drawn from a
    SMALL integer range so equal-ts collisions are guaranteed) checked
    against driver-side brute force for both temporal operators."""
    from selfclean_spark.operators import temporal

    for seed in (7, 8, 9):
        rng = np.random.default_rng(seed)
        n = 120
        rows = [
            (int(rng.integers(1, 6)), i, int(rng.integers(0, 50)))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "user long, eid long, t long")
        left = df.filter(F.col("eid") % 2 == 0)
        right = df.filter(F.col("eid") % 2 == 1).withColumn(
            "v", F.col("eid").cast("double")
        )
        got = {
            r.eid: r.prior_eid
            for r in temporal.asof_join(
                left, right, key="user", ts="t", id_col="eid",
                right_cols=["eid", "v"],
            ).collect()
        }
        rrows = [(u, e, t) for (u, e, t) in rows if e % 2 == 1]
        for (u, e, t) in rows:
            if e % 2 == 1:
                continue
            cands = [(rt, re) for (ru, re, rt) in rrows if ru == u and rt < t]
            want = max(cands)[1] if cands else None
            assert got[e] == want, (seed, e)
        # range join vs brute force at a radius that spans bucket edges
        delta = 7
        got_pairs = sorted(
            (r.id_a, r.id_b, r.dt)
            for r in temporal.range_join(
                df, df, key="user", ts="t", id_col="eid", delta=delta
            ).collect()
        )
        brute = sorted(
            (a, b, tb - ta)
            for (ua, a, ta) in rows
            for (ub, b, tb) in rows
            if ua == ub and a < b and abs(tb - ta) <= delta
        )
        assert got_pairs == brute, seed


def test_segment_scrub_planted_boilerplate(spark):
    """Planted repeated segment: the 8-token license header shared by 3
    docs is scrubbed from each; unique content survives verbatim; a doc
    of pure boilerplate scrubs to empty."""
    from selfclean_spark import queries as Q

    header = "copyright notice all rights reserved license apache two"
    rows = [
        (0, header + " unique zero content words here now extra"),
        (1, header + " other one body text goes right here"),
        (2, header),
        (3, "totally unique document with no shared segments at all x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import os, tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.doc_id: r
            for r in Q.boilerplate_segment_scrub(spark, td).collect()
        }
    assert out[2].scrubbed_text == "" and out[2].n_dropped == 1
    assert out[0].scrubbed_text == "unique zero content words here now extra"
    assert out[1].scrubbed_text == "other one body text goes right here"
    assert out[3].n_dropped == 0
    assert out[3].scrubbed_text == rows[3][1]


def test_stratified_sample_rescue_equals_plain_window(spark, monkeypatch, tmp_path):
    """Shrinking the prefilter oversample factor to 0.2 (expected kept
    = quota/5 per stratum) forces the rescue branch for every stratum —
    the output must STILL equal the plain-window sample, proving the
    prefilter+rescue machinery is a pure physical optimization."""
    import os

    from selfclean_spark import queries as Q

    rows = [(i, f"s{i % 3}") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    df = df.withColumn("text", F.lit("x"))
    path = str(tmp_path / "strat")
    df.write.parquet(os.path.join(path, "documents.parquet"))

    def run():
        return sorted(
            map(tuple, Q.stratified_sample(spark, path).collect())
        )

    normal = run()
    monkeypatch.setattr(Q, "SAMPLE_OVERSAMPLE", 0.2)
    rescued = run()
    assert normal == rescued
    # brute force: plain hash-ordered window
    want = sorted(
        (src, rk + 1, did)
        for src in ("s0", "s1", "s2")
        for rk, did in enumerate(
            [r.doc_id for r in df.filter(F.col("source") == src)
             .withColumn("h", F.xxhash64("doc_id"))
             .orderBy("h", "doc_id").limit(Q.SAMPLE_QUOTA).collect()]
        )
    )
    assert normal == want


def test_repo_fork_pairs_planted_fork(spark):
    """Plant a fork: repo B carries 8 of repo A's 10 files verbatim plus
    2 of its own; a vendored file shared by EVERY repo is df-capped out.
    The top containment pair must be (A, B) at 8/10, and the whole
    report must equal a driver-side brute-force recomputation."""
    import hashlib
    from itertools import combinations

    from selfclean_spark.operators.dedup import repo_fork_pairs

    rows = []
    vendored = "MIT LICENSE boilerplate shared by everyone"
    repo_files = {}
    for r in range(6):
        repo = f"repo_{r}"
        files = [f"unique content {r}-{i} {'x' * i}" for i in range(10)]
        repo_files[repo] = files
        rows += [(repo, f"f{i}.py", "c0", "py", t) for i, t in enumerate(files)]
        rows.append((repo, "LICENSE", "c0", "txt", vendored))
    fork = [*repo_files["repo_0"][:8], "fork-only A", "fork-only B"]
    repo_files["fork_0"] = fork
    rows += [("fork_0", f"f{i}.py", "c0", "py", t) for i, t in enumerate(fork)]
    rows.append(("fork_0", "LICENSE", "c0", "txt", vendored))
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )

    got = [tuple(r) for r in repo_fork_pairs(df, file_df_cap=6).collect()]
    assert got, "planted fork not detected"
    top = got[0]
    assert (top[0], top[1]) == ("fork_0", "repo_0")
    assert top[2] == 8 and top[5] == round(8 / 11, 6)  # n_shared, containment
    # brute force over sha sets with the same cap (vendored LICENSE is
    # in 7 repos > cap 6 → excluded from sharing, included in sizes)
    shas = {
        repo: {hashlib.sha256(t.encode()).hexdigest() for t in files}
        | {hashlib.sha256(vendored.encode()).hexdigest()}
        for repo, files in repo_files.items()
    }
    df_count = {}
    for s in set().union(*shas.values()):
        df_count[s] = sum(s in v for v in shas.values())
    want = []
    for ra, rb in combinations(sorted(shas), 2):
        shared = {
            s for s in shas[ra] & shas[rb] if 2 <= df_count[s] <= 6
        }
        if len(shared) >= 2:
            na, nb = len(shas[ra]), len(shas[rb])
            want.append(
                (ra, rb, len(shared), na, nb,
                 round(len(shared) / min(na, nb), 6),
                 round(len(shared) / (na + nb - len(shared)), 6))
            )
    want.sort(key=lambda t: (-t[5], t[0], t[1]))
    assert got == want


def test_export_shard_plan_invariants(spark):
    """Shard manifest invariants: offsets are the exclusive prefix sums
    of the shard token counts' preceding docs, shard ids start at 0 and
    are dense, and totals are conserved."""
    from selfclean_spark import queries as Q
    from selfclean_spark.queries import SHARD_TOKENS

    rows = sorted(
        Q.export_shard_plan(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.shard_id,
    )
    assert rows[0].shard_id == 0 and rows[0].start_offset == 0
    total = sum(r.n_tokens for r in rows)
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_tok = d.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("s")
    ).collect()[0].s
    assert total == n_tok
    for prev, cur in zip(rows, rows[1:]):
        # dense ids; each shard starts where a doc starts, inside the
        # shard's token window
        assert cur.shard_id == prev.shard_id + 1
        assert cur.start_offset >= cur.shard_id * SHARD_TOKENS
        assert cur.start_offset < (cur.shard_id + 1) * SHARD_TOKENS
        # contiguity: previous shard's tokens end exactly at this start
        assert cur.start_offset == prev.start_offset + prev.n_tokens


def test_unimax_epoch_plan_water_filling_invariants(spark):
    """UniMax allocation: saturated sources get exactly the epoch cap,
    unsaturated sources share one uniform water level that is BELOW the
    cap, and the total allocation equals the budget."""
    from selfclean_spark import queries as Q
    from selfclean_spark.queries import (
        UNIMAX_BUDGET_DEN,
        UNIMAX_BUDGET_NUM,
        UNIMAX_EPOCH_CAP,
    )

    rows = Q.unimax_epoch_plan(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 20
    sat = [r for r in rows if r.saturated]
    unsat = [r for r in rows if not r.saturated]
    assert sat and unsat, "planted skew must make both branches non-empty"
    for r in sat:
        assert r.epochs == UNIMAX_EPOCH_CAP
    levels = {r.alloc_tokens for r in unsat}
    assert len(levels) == 1, levels
    assert all(r.epochs < UNIMAX_EPOCH_CAP for r in unsat)
    total = sum(r.n_tokens for r in rows)
    budget = UNIMAX_BUDGET_NUM * total // UNIMAX_BUDGET_DEN
    assert sum(r.alloc_tokens for r in rows) == pytest.approx(budget, rel=1e-9)
    # small sources saturate first: every saturated source is smaller
    # than every unsaturated one
    assert max(r.n_tokens for r in sat) <= min(r.n_tokens for r in unsat)


def test_label_centroid_outliers_planted_far_vector(spark):
    """A vector planted far from its class centroid must rank as the
    label's top outlier, and the integer-exact distance chain must
    survive class sizes where the squared terms pass 2^63 (the
    Decimal(38,0) claim)."""
    import numpy as np

    from selfclean_spark import queries as Q

    rng = np.random.default_rng(23)
    rows = []
    for i in range(600):  # one big class: n=600 -> t^2 ~ (2*600*2^20)^2 > 2^63
        v = rng.standard_normal(64) * 0.05
        rows.append((i, [float(x) for x in v], 0))
    rows.append((9999, [0.45] * 64, 0))  # planted far outlier
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = Q.label_centroid_outliers(spark, d).collect()
    top = [r for r in got if r.outlier_rank == 1]
    assert len(top) == 1 and top[0].vec_id == 9999
    assert top[0].mean_sq_dist > max(
        r.mean_sq_dist for r in got if r.vec_id != 9999
    )


@pytest.mark.parametrize(
    "name",
    [
        "kmeans_clusters",
        "dedup_graph_triangles",
        "secrets_scan",
        "source_term_relevance",
        "distinct_token_kmv",
        "source_kl_divergence",
        "lsh_recall_report",
        "media_byte_features",
        "winnow_fingerprints",
        "winnow_clone_pairs",
        "embedding_dup_pairs",
        "lsh_topk_planted",
        "ivf_topk_exact",
        "export_shard_plan",
        "doc_stats",
        "lang_id_counts",
    ],
)
def test_r5_new_ops_oracle_parity(spark, name):
    """The r5 additions (2-iteration integer-exact Lloyd, dup-graph
    triangle counts, planted credential scan, c-TF-IDF source terms),
    the winnow kernel, the vector LSH / IVF paths, the global cumsum and
    the two stopword queries match their DuckDB twins value-for-value at
    sf0.001, columns sorted by name and rows sorted."""
    import duckdb

    import __spark_entry__ as entry_mod
    from selfclean_spark import caching

    caching.clear()
    sf = "/root/testdata/sf0.001"
    sdf = entry_mod.queries()[name](spark, sf)
    cols = sorted(sdf.columns)
    got = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in (r[c] for c in cols))
        for r in sdf.collect()
    )
    assert got, "result must be non-vacuous"
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    odf = con.execute(entry_mod.oracle_sql()[name]).fetch_df()
    assert sorted(odf.columns) == cols
    want = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in row)
        for row in odf[cols].itertuples(index=False)
    )
    assert got == want


def test_kmeans_planted_separated_blobs(spark):
    """Closed-form k-means check: the 8 seed vectors are 8 well-
    separated one-hot anchors; every planted copy must land in its
    anchor's cluster with dist2 == 0, and a jittered point lands in
    the nearest anchor's cluster with a small positive dist2."""
    import os
    import tempfile

    from selfclean_spark import queries as Q

    rows = []
    for k in range(8):  # seeds: vec_ids 0..7, one-hot on dim k
        v = [0.0] * 64
        v[k] = 0.8
        rows.append((k, v, 0))
    nxt = 100
    for k in range(8):  # 5 exact copies of each anchor
        v = [0.0] * 64
        v[k] = 0.8
        for _ in range(5):
            rows.append((nxt, list(v), 0))
            nxt += 1
    jit = [0.0] * 64
    jit[3] = 0.8
    jit[10] = 0.01  # tiny off-axis jitter -> still cluster 3
    rows.append((9000, jit, 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        got = {r.vec_id: r for r in Q.kmeans_clusters(spark, d).collect()}
    assert len(got) == len(rows)
    # cluster 3's centroid absorbs the jittered member, so its exact
    # members sit a small nonzero distance off; every other cluster's
    # members are byte-identical to their centroid
    for k in range(8):
        assert got[k].cluster == k
        if k != 3:
            assert got[k].dist2 == 0
        else:
            assert 0 < got[k].dist2 < 10**8
    for i, r in got.items():
        if 100 <= i < 140:
            anchor = (i - 100) // 5
            assert r.cluster == anchor, (i, r)
            assert (r.dist2 == 0) == (anchor != 3), (i, r)
    assert got[9000].cluster == 3 and 0 < got[9000].dist2 < 10**12


def test_dedup_graph_triangles_closed_form(spark):
    """A 4-clique of token-identical docs: every node has degree 3,
    participates in C(3,2)=3 triangles, coefficient exactly 1.0; an
    isolated identical pair has degree 1, zero triangles, coeff 0."""
    import os
    import tempfile

    from selfclean_spark import caching, queries as Q

    clique = "alpha beta gamma delta epsilon zeta"
    pair = "omega psi chi phi upsilon tau"
    rows = [(i, clique, "en", "s0", len(clique)) for i in range(4)]
    rows += [(10, pair, "en", "s0", len(pair)), (11, pair, "en", "s0", len(pair))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    caching.clear()
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in Q.dedup_graph_triangles(spark, d).collect()}
    caching.clear()
    assert set(got) == {0, 1, 2, 3, 10, 11}
    for i in range(4):
        r = got[i]
        assert (r.degree, r.n_triangles, r.clustering_coeff) == (3, 3, 1.0)
    for i in (10, 11):
        r = got[i]
        assert (r.degree, r.n_triangles, r.clustering_coeff) == (1, 0, 0.0)


def test_secrets_scan_counts_closed_form(spark):
    """The scan finds exactly the planted secrets (organic corpus text
    contains none): per-kind totals equal the modular plant counts."""
    from selfclean_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    rows = Q.secrets_scan(spark, sf).collect()
    n_docs = sum(r.n_docs for r in rows)
    assert n_docs == 500
    assert sum(r.n_aws for r in rows) == sum(
        1 for i in range(500) if i % 17 == 0
    )
    assert sum(r.n_token for r in rows) == sum(
        1 for i in range(500) if i % 23 == 0
    )
    assert sum(r.n_privkey for r in rows) == sum(
        1 for i in range(500) if i % 41 == 0
    )


def test_kmv_estimate_accuracy_and_kl_nonnegative(spark):
    """Statistical sanity on the new sketch/divergence surfaces: the
    KMV bottom-256 estimate lands within 20% of the exact per-source
    vocabulary (expected sigma ~ 1/sqrt(k-1) ~ 6%), and KL(P_s || P)
    is non-negative up to the 1e-6 floor-quantization bias, with real
    positive divergence somewhere."""
    from selfclean_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    kmv = Q.distinct_token_kmv(spark, sf).collect()
    assert kmv
    active = 0
    for r in kmv:
        if r.n_distinct_exact >= 256:  # sketch leg active
            active += 1
            assert abs(r.rel_err) < 0.20, (r.source, r.rel_err)
        else:  # exact fallback
            assert r.kmv_estimate == r.n_distinct_exact
    assert active == len(kmv), "3-gram vocab must activate the sketch leg"
    kl = Q.source_kl_divergence(spark, sf).collect()
    assert kl
    for r in kl:
        assert r.kl_nats > -1e-3, (r.source, r.kl_nats)
    assert max(r.kl_nats for r in kl) > 0


def test_triangles_boundary_pair_at_exact_threshold(spark):
    """j = 49/50 = 0.98 exactly — the boundary pair a float
    ceil(t*n) prefix would silently drop (IEEE 0.98*50 rounds UP, so
    naive ceil shortens the prefix by one).  The rational prefix
    arithmetic must keep it."""
    import os
    import tempfile

    from selfclean_spark import caching, queries as Q

    a = " ".join(f"tok{i}" for i in range(50))
    b = " ".join(f"tok{i}" for i in range(49))  # drops tok49: j = 49/50
    rows = [(1, a, "en", "s0", len(a)), (2, b, "en", "s0", len(b))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    caching.clear()
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r.doc_id: r for r in Q.dedup_graph_triangles(spark, d).collect()}
    caching.clear()
    assert set(got) == {1, 2}, got
    assert got[1].degree == 1 and got[2].degree == 1


def test_triangles_randomized_differential_vs_naive(spark):
    """Contracted-graph triangle counting == the naive doc-level
    enumeration, on randomized corpora with genuine cross-set near-dup
    structure (tau = 0.8, overlapping random token sets, planted clone
    families)."""
    import itertools
    import os
    import random
    import tempfile

    from selfclean_spark.operators import components as comp_ops

    rng = random.Random(97)
    for trial in range(3):
        vocab = [f"w{i}" for i in range(14)]
        rows, sets = [], {}
        did = 0
        for _ in range(30):
            k = rng.randint(8, 12)
            toks = rng.sample(vocab, k)
            copies = rng.choice([1, 1, 1, 2, 4])
            for _ in range(copies):
                rows.append((did, " ".join(toks)))
                sets[did] = frozenset(toks)
                did += 1
        # naive truth: all-pairs jaccard >= 0.8, then triangle count
        edges = set()
        for x, y in itertools.combinations(sorted(sets), 2):
            i = len(sets[x] & sets[y])
            u = len(sets[x] | sets[y])
            if u and i / u >= 0.8:
                edges.add((x, y))
        adj = {}
        for x, y in edges:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        want = {}
        for v, nb in adj.items():
            deg = len(nb)
            tri = sum(
                1 for x, y in itertools.combinations(sorted(nb), 2)
                if (x, y) in edges
            )
            coeff = round(2.0 * tri / (deg * (deg - 1)), 6) if deg >= 2 else 0.0
            want[v] = (deg, tri, coeff)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.degree, r.n_triangles, r.clustering_coeff)
            for r in comp_ops.contracted_triangle_stats(
                df, "doc_id", "text", threshold=0.8
            ).collect()
        }
        assert got == want, f"trial {trial}: {len(got)} vs {len(want)}"
