"""Driver-contract smoke: entry() runs at sf0.001 and every queries()
entry runs at sf0.001 with a stable schema; oracle_sql() keys ⊆
queries() keys."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert set(df.columns) == {"id", "component_id"}


def test_oracle_keys_subset():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 15


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs(spark, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_simhash_oracle_parity(spark):
    """The DuckDB HUGEINT SimHash twin reproduces the Spark sketch
    bit-exactly: same (id_a, id_b, hamming) set at sf0.001."""
    import duckdb

    got = sorted(
        tuple(r) for r in entry_mod.queries()["simhash_near_pairs"](
            spark, SF_DIR
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(
            entry_mod.oracle_sql()["simhash_near_pairs"]
        ).fetchall()
    )
    assert got == want


def test_isolation_oracle_parity(spark):
    """The DuckDB MinHash-128 + xxhash64 twin reproduces the Spark
    anchor-isolation ranking exactly (rank, id, rounded score) at
    sf0.001."""
    import duckdb

    got = [
        (r[0], r[1], float(r[2]))
        for r in entry_mod.queries()["isolation_ranking"](spark, SF_DIR).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = [
        (r[0], r[1], float(r[2]))
        for r in con.execute(
            entry_mod.oracle_sql()["isolation_ranking"]
        ).fetchall()
    ]
    assert got == want


@pytest.mark.parametrize(
    "name", ["near_dup_ranking", "lang_mismatch_ranking", "auto_cut_flags"]
)
def test_reference_core_ranking_oracle_parity(spark, name):
    """The reference's three core product surfaces (near-dup pair
    ranking, label-error/lang-mismatch ranking, auto-cleaning cut —
    r3's hard-oracle additions) match their DuckDB twins value-for-value
    at sf0.001, under the driver's sorted-columns compare protocol."""
    import duckdb

    sdf = entry_mod.queries()[name](spark, SF_DIR)
    cols = sorted(sdf.columns)
    got = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in (r[c] for c in cols))
        for r in sdf.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(entry_mod.oracle_sql()[name]).fetch_df()
    assert sorted(odf.columns) == cols
    want = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in row)
        for row in odf[cols].itertuples(index=False)
    )
    assert got == want
    if name == "auto_cut_flags":  # the cut must be non-vacuous
        flags = {bool(r.auto_issue) for r in sdf.collect()}
        assert flags == {True, False}


def test_session_cache_reuses_edge_pipeline(spark):
    """VERDICT r2 #7: within one SparkSession, a second query deriving
    from the documents edge set must NOT re-run the sketch pipeline —
    the session memo serves the persisted components/edges.  Asserted
    structurally: after minhash_components, the dedup_stats_by_source
    plan reads an InMemoryRelation instead of containing the signature
    mapInPandas stage."""
    from selfclean_spark import caching

    caching.clear()
    try:
        entry_mod.queries()["minhash_components"](spark, SF_DIR).count()
        stats = entry_mod.queries()["dedup_stats_by_source"](spark, SF_DIR)
        plan = stats._jdf.queryExecution().optimizedPlan().toString()
        # the components relation arrives as a cache read (the memoized
        # persisted table), not as a fresh sketch pipeline
        assert "InMemoryRelation" in plan
    finally:
        caching.clear()


@pytest.mark.parametrize(
    "name",
    [
        "decontamination_pairs",
        "substring_containment_pairs",
        "ngram_contamination",
        "dedup_keep_manifest",
        "repetition_stats",
    ],
)
def test_release_check_oracle_parity(spark, name):
    """r3 training-data release checks match their DuckDB twins
    value-for-value at sf0.001: cross-split contamination over the
    exact edge set, suffix-array-confirmed substring containment vs
    DuckDB's independent contains() (49 pairs at sf0.001 — planted
    wrappers AND organic append/truncate near-dups, so the kernel is
    exercised on non-trivial positives and negatives), GPT-3-style
    exact 8-gram contamination, the dedup keep manifest, and the
    Gopher repetition stats."""
    import duckdb

    from selfclean_spark import caching

    caching.clear()
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    cols = sorted(sdf.columns)
    got = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in (r[c] for c in cols))
        for r in sdf.collect()
    )
    assert got, "release-check result must be non-vacuous"
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    odf = con.execute(entry_mod.oracle_sql()[name]).fetch_df()
    assert sorted(odf.columns) == cols
    want = sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in row)
        for row in odf[cols].itertuples(index=False)
    )
    assert got == want


def test_substring_confirm_kernel(spark):
    """Unit semantics of the public SA wrapper: verbatim containment
    (incl. equality) is confirmed, mid-string edits are rejected."""
    from selfclean_spark.operators.verify import substring_confirm

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "PRE alpha beta gamma delta POST"),   # wraps 1
            (3, "alpha beta GAMMA delta"),            # mid edit of 1
            (4, "alpha beta gamma delta"),            # equal to 1
        ],
        "id long, content string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.substring
        for r in substring_confirm(pairs, docs).collect()
    }
    assert got == {(1, 2): True, (1, 3): False, (1, 4): True}


def test_bench_headline_names_exist():
    """Every bench HEADLINE name must be a registered queries() entry —
    a renamed query that leaves a stale bench name would otherwise only
    surface as a driver-round bench crash."""
    import bench

    import __spark_entry__ as e

    q = set(e.queries())
    missing = [n for n in bench.HEADLINE if n not in q]
    assert not missing, missing


def test_auto_cut_oracle_parity_on_verbatim_duplicate(spark, tmp_path):
    """A pair at distance 0 is outside (0, 1), so both engines flag it
    ``auto_issue = false``; the DuckDB twin must not take ln(0) on it.
    Compared like ``tools/check_oracles.py``: rows and value hash."""
    import duckdb
    import pandas as pd

    from selfclean_spark import caching
    from tools.check_oracles import value_hash

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    copy = docs.iloc[[0]].assign(doc_id=docs["doc_id"].max() + 1)
    pd.concat([docs, copy]).to_parquet(
        tmp_path / "documents.parquet", index=False
    )
    sf = str(tmp_path)
    try:
        got = entry_mod.queries()["auto_cut_flags"](spark, sf).toPandas()
    finally:
        caching.clear()
    assert ((got["dist"] == 0) & ~got["auto_issue"]).any()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(entry_mod.oracle_sql()["auto_cut_flags"]).fetch_df()
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)


def test_session_memo_drops_other_sessions(spark):
    """One memo serves table readers and counts; a lookup drops the
    entries of any other (stopped or replaced) session, and
    ``caching.clear()`` keeps the readers (plans, not data)."""
    from selfclean_spark import caching
    from selfclean_spark import queries as Q

    stale = ("reader", "/stale", "documents")
    Q._SESSION_MEMO[stale] = (object(), None)
    Q._t(spark, SF_DIR, "documents")
    assert stale not in Q._SESSION_MEMO
    caching.clear()
    assert ("reader", SF_DIR, "documents") in Q._SESSION_MEMO


def test_clear_frees_checkpoint_blocks(spark):
    """``caching.clear()`` releases every block a memoized query made,
    ``localCheckpoint`` ones included (``unpersist`` does not reach
    those)."""
    from selfclean_spark import caching

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}

    caching.clear(blocking=True)
    before = persistent_ids()
    entry_mod.queries()["minhash_components"](spark, SF_DIR).count()
    created = persistent_ids() - before
    assert created
    caching.clear(blocking=True)
    assert not persistent_ids() & created
