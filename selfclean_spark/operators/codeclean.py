"""Code-payload clone detection: MOSS winnowing fingerprints and
sub-file block-granularity clones.

The reference detects near-duplicates only at WHOLE-ITEM granularity
(`/root/reference/selfclean/cleaner/near_duplicates/embedding_distance_mixin.py:21-74`
ranks full-sample embedding pairs); a source-code corpus additionally
needs SUB-FILE clone detection — a copied function inside an otherwise
different file — which is what these operators add, re-expressed
Spark-first over the same (id, content) surface the rest of the dedup
family uses.

Two public algorithms, both credited:

* **Winnowing** (Schleimer, Wilkerson, Aiken — "Winnowing: Local
  Algorithms for Document Fingerprinting", SIGMOD 2003; the MOSS
  fingerprinter): hash every k-gram, slide a window of w consecutive
  hashes, keep the minimum of each window (leftmost on ties — the
  paper requires only a deterministic tie rule).  Guarantee: any match
  of length >= w + k - 1 shares at least one fingerprint, at expected
  density 2/(w+1).
* **Fixed-width token blocks** (the exact-clone granularity used by
  code-clone tooling and by exact-substring dedup a la Lee et al.
  2021, re-cast block-wise so it stays a pure groupBy): non-overlapping
  W-token windows, digest-collapsed, inverted-index joined.

Engine-exactness contract: the winnow hash is an explicit polynomial
over character codes mod a prime — pure int64 arithmetic both engines
evaluate identically (no library hash involved), so the DuckDB oracle
recomputes fingerprints bit-exactly.  Block digests use md5, which
Spark and DuckDB share.

100-TB shape (docstrings per operator): fingerprinting is one map-only
vectorized numpy pass over Arrow batches; the only shuffles are the
distinct-postings exchange and the df-capped inverted-index self-join
— the same count-first-cap discipline as ``dedup.token_jaccard_pairs``
(a fingerprint appearing in f docs contributes f^2 join rows, so
ubiquitous boilerplate fingerprints are cut, which on code corpora is
exactly the license-header / codegen-preamble mass you WANT out of
clone evidence).  At 10^12 files the md5 hex in block postings would
be collapsed to xxhash64 ints pre-shuffle (the ``repo_fork_pairs``
pattern); md5 is kept here because the correctness twin must reproduce
digests in SQL.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from selfclean_spark.operators import candidates as cand_ops
from selfclean_spark.functions.worker import worker_task
from selfclean_spark.operators.ingest import fanout_few_files

# Winnowing parameters — k-gram length, window width, polynomial base,
# prime modulus.  k = 20 chars (~4 tokens of code) per the MOSS paper's
# "longer than common idiom, shorter than a cloned block" guidance; the
# hash rolls (acc * B + char) mod M, and acc < M = 1e9+7 keeps
# acc * B + 255 < 2^63 at every step — pure int64 both engines.
WINNOW_K = 20
WINNOW_W = 8
WINNOW_B = 257
WINNOW_M = 1_000_000_007


def _winnow_hashes_np(s: str) -> np.ndarray:
    """Numpy winnowing of one document: hashes at the DISTINCT selected
    positions, in position order (a multiset — one hash value can be
    selected at several positions).

    Bit-identical to the DuckDB twin: the same ``trim`` (SQL trims
    spaces only, never newlines or tabs — hence ``strip(" ")``), the
    same (acc * B + c) mod M rolling hash (int64 never overflows:
    acc < M = 1e9+7, so acc * 257 + 255 < 2^63) and the same
    leftmost-min tie rule (``np.argmin`` returns the first minimum).
    """
    s = s.strip(" ")
    ng = len(s) - WINNOW_K + 1
    if ng <= 0:
        return np.empty(0, dtype=np.int64)
    codes = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
    acc = np.zeros(ng, dtype=np.int64)
    for t in range(WINNOW_K):
        acc = (acc * WINNOW_B + codes[t : t + ng]) % WINNOW_M
    if ng <= WINNOW_W:
        return acc[int(np.argmin(acc))][None]
    wins = np.lib.stride_tricks.sliding_window_view(acc, WINNOW_W)
    pos = np.arange(wins.shape[0]) + np.argmin(wins, axis=1)
    # winnowing positions are non-decreasing under the leftmost rule,
    # so unique == distinct-in-position-order
    return acc[np.unique(pos)]


@worker_task
def _winnow_report_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        texts = pdf["text"].to_numpy()
        n = len(texts)
        out = {
            "doc_id": pdf["doc_id"].to_numpy(),
            "n_grams": np.zeros(n, dtype=np.int64),
            "n_fp": np.zeros(n, dtype=np.int64),
            "fp_xor": np.zeros(n, dtype=np.int64),
            "fp_min": np.zeros(n, dtype=np.int64),
            "fp_max": np.zeros(n, dtype=np.int64),
        }
        for r, s in enumerate(texts):
            out["n_grams"][r] = max(len(s.strip(" ")) - WINNOW_K + 1, 0)
            hs = _winnow_hashes_np(s)
            if hs.size:
                out["n_fp"][r] = hs.size
                out["fp_xor"][r] = np.bitwise_xor.reduce(hs)
                out["fp_min"][r] = hs.min()
                out["fp_max"][r] = hs.max()
        yield pd.DataFrame(out)


@worker_task
def _winnow_posting_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, hs = [], []
        for i, s in zip(pdf["id"].to_numpy(), pdf["text"].to_numpy()):
            u = np.unique(_winnow_hashes_np(s))  # distinct hash VALUES
            ids.append(np.full(u.size, i, dtype=np.int64))
            hs.append(u)
        yield pd.DataFrame(
            {
                "id": np.concatenate(ids) if ids else np.empty(0, np.int64),
                "h": np.concatenate(hs) if hs else np.empty(0, np.int64),
            }
        )


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document winnowing fingerprint report: gram count,
    fingerprint count, and min/max/xor digests of the selected hashes.

    The xor/min/max triple pins the exact fingerprint SET (not just
    its size) onto the oracle surface without emitting ~n_fp rows per
    doc.  Map-only: zero shuffles before the output sort.  Docs shorter
    than k grams are emitted with n_fp = 0 and zeroed digests, keeping
    the report total == corpus size.

    The kernel is a vectorized numpy batch over Arrow (the same fast
    path the MinHash signatures use) — measured 16x end-to-end at
    sf0.01/local[8] (8.07 s -> 0.50 s) against a pure-SQL
    single-expression form, whose higher-order lambdas are interpreted
    per element, not codegen'd (BENCH/BASELINE.md).  The DuckDB twin
    is the reference.
    """
    return (
        fanout_few_files(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        )
        .mapInPandas(
            _winnow_report_batches,
            schema=(
                "doc_id long, n_grams long, n_fp long,"
                " fp_xor long, fp_min long, fp_max long"
            ),
        )
        .orderBy("doc_id")
    )


def winnow_clone_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 5,
    max_doc_freq: int = 1_000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints
    — MOSS's clone evidence, distributed.

    Plan: map-only fingerprinting (vectorized numpy over Arrow) ->
    distinct (fp, id) postings (one Exchange) -> df-capped
    inverted-index self-join (the f^2 cut; count-first, same discipline
    as ``dedup.token_jaccard_pairs``) -> per-pair shared count +
    overlap ratio vs the smaller fingerprint set.  Fingerprints are
    8-byte ints end-to-end: content never shuffles.
    """
    fps = fanout_few_files(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    ).mapInPandas(_winnow_posting_batches, schema="id long, h long")
    sizes = (
        cand_ops.capped_postings(fps, "h", max_doc_freq)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    shared = (
        cand_ops.capped_self_join(fps, "h", max_doc_freq)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_fp").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_fp").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            # integer DIV, not float-divide-then-cast: bit-exact vs the
            # DuckDB twin's // with no FP-rounding edge at the boundary
            F.expr("n_shared * 1000000L div least(n_a, n_b)").alias(
                "overlap_ppm"
            ),
        )
        .orderBy("id_a", "id_b")
    )


BLOCK_TOKENS = 8


def block_clone_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_tokens: int = BLOCK_TOKENS,
    min_shared: int = 2,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """Sub-file exact-clone pairs at fixed token-block granularity: a
    copied span of >= 2*W-1 tokens is guaranteed to cover a full
    W-token aligned block in at least one of the two files only if
    alignments agree, so this is the cheap precision-oriented
    complement to ``winnow_clone_pairs`` (alignment-free) and to the
    suffix-array substring confirm (exact, any offset).

    Plan: tokenize -> non-overlapping W-token chunks (full chunks
    only; the tail never forms clone evidence) -> md5 digest per block
    (content leaves the scan as 32-hex digests; at 10^12 files these
    collapse further to xxhash64 ints pre-shuffle — md5 is kept so the
    DuckDB twin reproduces digests) -> distinct postings -> df-capped
    inverted-index self-join -> pairs with >= ``min_shared`` shared
    distinct blocks.
    """
    n_blocks = F.floor(F.size(F.col("_toks")) / block_tokens).cast("int")
    blocks = (
        df.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(text_col), r"\s+").alias("_toks"),
        )
        .select("id", n_blocks.alias("_nb"), "_toks")
        .filter(F.col("_nb") > 0)
        .select(
            "id",
            "_nb",
            F.explode(
                F.expr(
                    f"transform(sequence(1, _nb), i -> md5(concat_ws(' ',"
                    f" slice(_toks, (i - 1) * {block_tokens} + 1,"
                    f" {block_tokens}))))"
                )
            ).alias("bh"),
        )
        .select("id", "_nb", "bh")
        .distinct()
    )
    return (
        cand_ops.capped_self_join(blocks, "bh", max_doc_freq, carry=["_nb"])
        .groupBy("id_a", "id_b", "_nb_a", "_nb_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("n_shared * 1000000L div least(_nb_a, _nb_b)").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("id_a", "id_b")
    )
