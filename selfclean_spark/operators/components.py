"""Stage 5 — distributed connected components (large-star / small-star).

Reference analog: single-linkage agglomerative clustering over the
condensed distance vector (selfclean/cleaner/off_topic_samples/
lad_mixin.py:18 ``scipy.cluster.hierarchy.single``) and, semantically,
the "these two samples are the same" verdict of the near-duplicate
ranking.  A full dendrogram is inherently sequential/driver-side; the
scalable semantics the north rule fixes is the *flat* clustering at the
verified-edge threshold: connected components of the dup graph.

Algorithm: alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — converges in
O(log² n) rounds on any graph, each round two shuffles
(groupBy-min + self-join), no vertex state on the driver.

    large-star: every node links its larger neighbors to its minimum
                neighbor (or itself);
    small-star: every node links its smaller-or-equal neighbors to the
                minimum of those.

Loop exit: each round is one ``localCheckpoint`` action (it cuts
lineage, SURVEY.md §4.2), and two Observations ride it.  The first is
the star-forest fixed-point test: a per-node window counts every
node's out- and in-edges, and the loop ends on the first round whose
edges form a min-rooted star forest.  The second is the edge multiset's
fingerprint, count + xor of xxhash64(u, v); a round that repeats the
previous fingerprint also ends the loop.  Neither test runs a job of
its own.  At design scale the node window adds one exchange of 2|E|
rows to a round's three; the groupBy + semi-join test it replaces
shuffled the round's edges twice more, in four jobs of its own per
round.  When the input is coalesced to one partition, no window needs
an exchange and a round is one job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from selfclean_spark import caching
from selfclean_spark.operators import candidates as cand_ops


def _checkpoint_round(
    edges: DataFrame, tag: str
) -> tuple[DataFrame, tuple[int, int], bool]:
    """Materialize one CC round (localCheckpoint, cuts lineage) and, in
    that same action, observe its convergence fingerprint and whether it
    is a min-rooted star forest — the alternating algorithm's fixed point
    (Kiveris et al. SoCC'14).  One job per round.

    ``edges`` are oriented v < u by construction of ``_small_star``.
    They form a star forest iff no node has two out-edges and no target
    is also a source.  Each edge is seen at both endpoints (an out-row
    at u, an in-row at v); one window per node counts both, and an
    out-row breaks the star shape when its node has another out-edge or
    any in-edge.  The in-rows are filtered away again, so the
    checkpoint holds exactly the round's edges."""
    ends = F.explode(
        F.array(
            F.struct(F.col("u").alias("node"), F.lit(True).alias("out")),
            F.struct(F.col("v").alias("node"), F.lit(False).alias("out")),
        )
    ).alias("e")
    w = Window.partitionBy("node")
    annotated = (
        edges.select("u", "v", ends)
        .select("u", "v", "e.node", "e.out")
        .select(
            "u", "v", "out",
            F.count(F.when(F.col("out"), 1)).over(w).alias("n_out"),
            F.count(F.when(~F.col("out"), 1)).over(w).alias("n_in"),
        )
        .filter(F.col("out"))
    )
    obs = Observation(tag)
    observed = annotated.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        F.count(
            F.when((F.col("n_out") > 1) | (F.col("n_in") > 0), 1)
        ).alias("breaks"),
    )
    out = observed.select("u", "v").localCheckpoint(eager=True)
    got = obs.get
    return out, (int(got["n"]), int(got["h"])), got["breaks"] == 0


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star half-round as a single count-window pass (r6).

    The r1-r5 form computed per-node minima with groupBy + join (two
    exchanges) and deduplicated with a third; the min is now a window
    aggregate over the one hash(u) exchange (guide §2.4), and the
    mid-round ``distinct`` is dropped: each undirected edge (u < v) is
    emitted exactly once (from its smaller endpoint), so the output
    MULTISET has exactly |E| rows — duplicates of the same (v, m) value
    from different source nodes ride to the round-final distinct, and
    ``_small_star``'s window min is multiset-insensitive, so the per-
    round edge SET (and every fingerprint) is unchanged."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        sym.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star half-round as a single count-window pass (r6) —
    same rework as :func:`_large_star`; the round-final ``distinct``
    restores set semantics for the fingerprint/checkpoint."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    le = sym.filter(F.col("v") <= F.col("u"))
    w = Window.partitionBy("u")
    pair = F.explode(
        F.array(
            F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
            F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
        )
    )
    return (
        le.withColumn("m", F.min("v").over(w))
        .select(pair.alias("p"))
        .select("p.u", "p.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


# edge rows are ~24 B (two longs + overhead); 32 MB per round-input
# partition keeps every shuffle/window task meaningfully sized while
# deriving the partition count from the OBSERVED edge count — at 25
# test edges one partition, at 10⁹ lake edges ~750 (guide §2: scale-
# adaptive partitioning, never a constant tuned to local core count).
_EDGE_ROWS_PER_PARTITION = 1_400_000


def _nparts(n_rows: int) -> int:
    return int(n_rows // _EDGE_ROWS_PER_PARTITION) + 1


def connected_components(
    edges: DataFrame, max_iterations: int = 50, n_rows: int | None = None
) -> tuple[DataFrame, int]:
    """(id_a, id_b) edge list → (id, component_id) with component_id =
    min id in the component; singletons are NOT emitted (callers join
    with the id universe and ``coalesce(component_id, id)``).

    r6 loop shape: the initial edge count rides the initialization
    checkpoint as an Observation (no separate ``isEmpty`` action); each
    round's input is ``coalesce``d (narrow, no shuffle) to a partition
    count derived from the PREVIOUS round's observed edge count, so the
    first round no longer launches 64-partition-shaped stages over a
    handful of rows; and the loop exits via the star-forest fixed-point
    test observed on the round's own checkpoint
    (:func:`_checkpoint_round`) instead of paying one extra full round
    to see the fingerprint repeat.  Fingerprint stability stays as
    backstop — results are bit-identical to the r1-r5 loop (same fixed
    point, pinned by the CC oracles and the local[1..32] determinism
    test).

    ``n_rows``: the input's row count when the caller already knows it
    (the pipeline reads it from the verified-edge manifest).  The
    initial dedup then runs on a partition count derived from it, like
    every round's input; on one partition it needs no exchange.

    Returns (components, rounds_used).
    """
    if n_rows is not None:
        edges = edges.coalesce(_nparts(n_rows))
    obs0 = Observation("cc_init")
    cur = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs0.get["n"])
    if n_edges == 0:
        spark = edges.sparkSession
        empty = spark.createDataFrame([], "id long, component_id long")
        return empty, 0

    prev_fp = (-1, -1)
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        prev = cur
        cur, fp, star = _checkpoint_round(
            _small_star(_large_star(prev.coalesce(_nparts(n_edges)))),
            f"cc_round_{rounds}",
        )
        # the new round is materialized: free the one it was built from
        caching.release_checkpoints(prev)
        if star or fp == prev_fp:
            break
        prev_fp = fp
        n_edges = max(fp[0], 1)
    # the final round backs ``comps`` until the caller has written it;
    # ``caching.clear`` frees it
    caching.register_checkpoint(cur)
    # fixed point: every edge is (member → component-min)
    comps = cur.select(
        F.col("u").alias("id"), F.col("v").alias("component_id")
    ).union(
        cur.select(F.col("v").alias("id"), F.col("v").alias("component_id"))
    )
    comps = comps.groupBy("id").agg(F.min("component_id").alias("component_id"))
    return comps, rounds


def with_singletons(components: DataFrame, universe: DataFrame) -> DataFrame:
    """Left-join the id universe so every row gets a component
    (singleton ⇒ its own id)."""
    return (
        universe.select("id")
        .join(components, "id", "left")
        .select(
            "id", F.coalesce("component_id", F.col("id")).alias("component_id")
        )
    )


def contracted_triangle_stats(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.98,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Per-node degree / triangle count / clustering coefficient on the
    token-Jaccard dup graph, via SUPER-NODE CONTRACTION — the form that
    survives clone-heavy corpora.

    Key fact: token-set Jaccard is a function of the SETS alone, so the
    dup graph is a blow-up of the contracted graph whose nodes are the
    distinct capped token sets (multiplicity m = clone-family size):
    every within-family pair is an edge (j = 1 >= tau) and a cross
    pair (A, B) is all-or-nothing at the family level.  A naive
    enumeration materializes C(m, 3) ~ m^3/6 triangles per family
    (measured: 69 s at sf0.1 where the contracted form runs in ~2 s);
    here family interiors are counted in closed form and only the
    contracted graph — near-dup structure BETWEEN distinct texts,
    which thresholded dedup keeps sparse — is enumerated:

      deg(v in A)  = (m_A - 1) + S1_A,          S1_A = sum_{B~A} m_B
      tri(v in A)  = C(m_A - 1, 2)              [both in A]
                   + (m_A - 1) * S1_A           [one in A, one outside]
                   + S2_A                       [both in one neighbor B]
                   + sum_{B~A, C~A, B~C} m_B*m_C  [contracted triangles]
      with S2_A = sum_{B~A} C(m_B, 2).

    Exactly the same output as the naive doc-level enumeration (the
    DuckDB oracle), at cost O(|contracted graph|) instead of
    O(sum m^3).  Docs whose capped token set is empty never enter the
    postings and are excluded — identical to the naive plan."""
    std = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("content")
    )
    # tokens are hashed to int64 AT THE SCAN (r6, hash-first): every
    # downstream shuffle (df-cut window, set collapse, representative
    # postings, prefix join, intersection verify) moves 8-byte ints,
    # never token strings.  All derived quantities are hash-family-
    # independent absent collisions: df counts, set sizes, intersection
    # counts — and the AllPairs prefix filter only needs SOME global
    # total order on tokens (ascending (rdf, tok-hash) is one), so the
    # verified edge set is unchanged.  The output carries no token at
    # all, and the DuckDB twin recomputes at the string level —
    # agreement cross-checks the rewrite.
    postings = (
        std.select(
            "id",
            F.explode(
                F.array_distinct(F.split(F.trim("content"), r"\s+"))
            ).alias("tok_s"),
        )
        .filter(F.length("tok_s") > 0)
        .select("id", F.xxhash64("tok_s").alias("tok"))
    )
    # df-cut served by the one hash(tok) exchange for both consumers
    # (set collapse and the representative postings)
    pruned = cand_ops.capped_postings(postings, "tok", max_doc_freq)
    # collapse identical capped sets: 128-bit set key over the sorted
    # token-hash list (collision-negligible; never leaves the executor)
    doc_sets = pruned.groupBy("id").agg(
        F.md5(F.concat_ws(" ", F.sort_array(F.collect_list("tok")))).alias(
            "skey"
        )
    )
    sets = caching.register_persist(
        doc_sets.groupBy("skey")
        .agg(
            F.min("id").alias("sid"),
            F.count(F.lit(1)).cast("long").alias("m"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    member = doc_sets.join(sets, "skey").select("id", "sid")
    # set-level edges via PREFIX FILTERING (AllPairs / PPJoin — Bayardo
    # et al. WWW'07, Xiao et al.): a plain inverted-index join on the
    # representatives still explodes on ubiquitous tokens (a token in f
    # of the distinct sets contributes f^2 rows — measured 7.7M pairs /
    # 35 s at sf0.1 where the true edge set has a few hundred rows).
    # For Jaccard >= t, two sets must share a token among the first
    # p = n - ceil(t*n) + 1 tokens in a GLOBAL rarity (ascending-df)
    # order — at t = 0.98 that is the single rarest token per set for
    # n <= 50, so the candidate join touches almost nothing; survivors
    # are verified with an exact array-intersection count.
    reps = sets.select(F.col("sid").alias("id"))
    rp = pruned.join(reps, "id")
    rdf = rp.groupBy("tok").agg(F.count(F.lit(1)).alias("rdf"))
    set_arr = caching.register_persist(
        rp.join(rdf, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("rdf", "tok"))),
                lambda s: s["tok"],
            ).alias("toks"),
            F.count(F.lit(1)).cast("long").alias("n_tok"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # prefix length p = n - ceil(t*n) + 1 must use EXACT arithmetic: at
    # the boundary (t*n integral, e.g. 0.98*50) IEEE rounds up and
    # ceil() overshoots, shortening the prefix by one and silently
    # dropping true boundary pairs — so t is carried as a rational and
    # ceil(t*n) = (num*n + den - 1) DIV den.  Same for the length
    # filter (|a| >= t*|b| becomes den*|a| >= num*|b|).
    from fractions import Fraction

    fr = Fraction(threshold).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    prefix_len = (
        F.col("n_tok")
        - F.expr(f"(({num} * n_tok + {den} - 1) DIV {den})")
        + 1
    ).cast("int")
    prefix = set_arr.select(
        "id",
        "n_tok",
        F.explode(F.slice("toks", 1, prefix_len)).alias("tok"),
    )
    cands = (
        prefix.select("tok", F.col("id").alias("sa"), F.col("n_tok").alias("n_a"))
        .join(
            prefix.select(
                "tok", F.col("id").alias("sb"), F.col("n_tok").alias("n_b")
            ),
            "tok",
        )
        .filter(
            (F.col("sa") < F.col("sb"))
            & (F.lit(den) * F.col("n_a") >= F.lit(num) * F.col("n_b"))
            & (F.lit(den) * F.col("n_b") >= F.lit(num) * F.col("n_a"))
        )
        .select("sa", "sb")
        .distinct()
    )
    # localCheckpoint, not persist (r6): the contracted edge set is
    # referenced six times below (degree sums, the oriented triple
    # join's three legs, both union orientations) — with a persist each
    # reference embeds the whole postings->prefix->verify tree into the
    # consumer plan and DRIVER PLANNING alone measured 1.6 s at sf0.1.
    # The checkpoint truncates lineage to a leaf.  Fault-tolerance
    # trade (guide §5) is safe here: redges is the SPARSE contracted
    # graph (near-dup structure between distinct texts — the operator's
    # own scale contract), orders of magnitude below the corpus.
    redges = (
        cands.join(
            set_arr.select(F.col("id").alias("sa"), F.col("toks").alias("ta"), F.col("n_tok").alias("n_a")),
            "sa",
        )
        .join(
            set_arr.select(F.col("id").alias("sb"), F.col("toks").alias("tb"), F.col("n_tok").alias("n_b")),
            "sb",
        )
        .withColumn("i", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .filter(
            F.col("i").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("i"))
            >= threshold
        )
        .select("sa", "sb")
        .localCheckpoint(eager=True)
    )
    msz = sets.select(F.col("sid").alias("nb"), F.col("m").alias("m_nb"))
    und = redges.select(
        F.col("sa").alias("sid"), F.col("sb").alias("nb")
    ).unionAll(redges.select(F.col("sb").alias("sid"), F.col("sa").alias("nb")))
    nbr = (
        und.join(msz, "nb")
        .groupBy("sid")
        .agg(
            F.sum("m_nb").cast("long").alias("s1"),
            F.sum(
                (F.col("m_nb") * (F.col("m_nb") - 1)) / F.lit(2)
            ).cast("long").alias("s2"),
        )
    )
    # contracted triangles: oriented enumeration on the (sparse)
    # set-level edges; each contributes the OTHER two multiplicities
    e1, e2, e3 = redges.alias("e1"), redges.alias("e2"), redges.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.sb") == F.col("e2.sa"))
        .join(
            e3,
            (F.col("e3.sa") == F.col("e1.sa"))
            & (F.col("e3.sb") == F.col("e2.sb")),
        )
        .select(
            F.col("e1.sa").alias("ta"),
            F.col("e1.sb").alias("tb"),
            F.col("e2.sb").alias("tc"),
        )
        .join(msz.select(F.col("nb").alias("ta"), F.col("m_nb").alias("ma")), "ta")
        .join(msz.select(F.col("nb").alias("tb"), F.col("m_nb").alias("mb")), "tb")
        .join(msz.select(F.col("nb").alias("tc"), F.col("m_nb").alias("mc")), "tc")
    )
    tri_contrib = (
        tris.select(F.col("ta").alias("sid"), (F.col("mb") * F.col("mc")).alias("t"))
        .unionAll(
            tris.select(F.col("tb").alias("sid"), (F.col("ma") * F.col("mc")).alias("t"))
        )
        .unionAll(
            tris.select(F.col("tc").alias("sid"), (F.col("ma") * F.col("mb")).alias("t"))
        )
        .groupBy("sid")
        .agg(F.sum("t").cast("long").alias("tri_x"))
    )
    per_set = (
        sets.select("sid", "m")
        .join(nbr, "sid", "left")
        .join(tri_contrib, "sid", "left")
        .na.fill({"s1": 0, "s2": 0, "tri_x": 0})
        .withColumn("degree", (F.col("m") - 1 + F.col("s1")).cast("long"))
        .filter(F.col("degree") >= 1)
        .withColumn(
            "n_triangles",
            (
                ((F.col("m") - 1) * (F.col("m") - 2) / F.lit(2)).cast("long")
                + (F.col("m") - 1) * F.col("s1")
                + F.col("s2")
                + F.col("tri_x")
            ).cast("long"),
        )
    )
    return (
        member.join(per_set, "sid")
        .select(
            F.col("id").alias("doc_id"),
            "degree",
            "n_triangles",
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.col("n_triangles")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("doc_id")
    )
