"""Deterministic synthetic ``code_files`` generator with planted issues.

Mirrors the reference's test-fixture strategy — small seeded inputs with
planted anomalies and analytically known outcomes
(tests/unittests/cleaner/near_duplicates/test_embedding_distance.py:22-40
plants an exact duplicate; .../test_lad_scoring.py:9-19 plants an
outlier; .../test_intra_extra_distance.py:28-46 plants a duplicate with
a flipped label) — re-expressed over the BASELINE.json input relation
``code_files(repo, path, commit, lang, content)``.

All randomness flows from one ``numpy.random.default_rng(seed)`` (the
reference pins seed 42, selfclean/cleaner/selfclean_cleaner.py:52-60),
so the same (n_rows, seed) always produces byte-identical tables — the
precondition for the determinism and scaling benchmarks.

Output is a plain pandas DataFrame (driver-side: fixtures are small by
design; the 10^12-scale input is the real Iceberg table, never
synthesized).  A sidecar ``truth`` frame records planted group ids and
kinds; the pipeline never sees it.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from selfclean_spark.functions.worker import worker_task

LANGS = ["python", "java", "go", "js", "c"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}

# per-lang keyword vocabulary for template-generated source text
_VOCAB = {
    "python": "def return import class self if else for in range print len None True False lambda yield with open try except raise assert".split(),
    "java": "public static void class int String new return if else for while import package final private this null true false throws".split(),
    "go": "func package import return if else for range var const type struct interface go defer chan map string int nil true".split(),
    "js": "function const let var return if else for while class new this import export default async await null true".split(),
    "c": "int char void return if else for while struct typedef static const unsigned sizeof include define NULL break continue switch".split(),
}
_IDENT = [f"var{i}" for i in range(40)] + [f"fn_{i}" for i in range(40)]
_PUNCT = ["(", ")", "{", "}", "=", "+", "-", "*", ";", ",", ":", "==", "->"]


@dataclass
class SynthTables:
    code_files: pd.DataFrame  # repo path commit lang content
    truth: pd.DataFrame       # id-free sidecar: (path, truth_kind, group_id)


def _gen_content(rng: np.random.Generator, lang: str, n_tokens: int) -> str:
    """Template source text: shared per-lang keywords/punctuation plus
    per-document unique identifiers (real code shares keywords but
    differs in identifiers/literals — without the unique tokens,
    unrelated files sit at Jaccard ~0.3 and LSH candidate volume
    explodes quadratically)."""
    local_idents = [f"sym{int(rng.integers(0, 10**9)):x}" for _ in range(24)]
    vocab = _VOCAB[lang] + _IDENT + _PUNCT + local_idents * 3
    toks = rng.choice(len(vocab), size=n_tokens)
    words = [vocab[t] for t in toks]
    lines, line = [], []
    for w in words:
        line.append(w)
        if len(line) >= int(rng.integers(4, 10)):
            lines.append(" ".join(line))
            line = []
    if line:
        lines.append(" ".join(line))
    return "\n".join(lines) + "\n"


def _mutate(rng: np.random.Generator, content: str, n_edits: int) -> str:
    """Near-duplicate: n_edits token substitutions (Jaccard stays high)."""
    toks = content.split(" ")
    for _ in range(n_edits):
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = f"edit{int(rng.integers(0, 1000))}"
    return " ".join(toks)


def generate_code_files(
    n_rows: int = 2000,
    seed: int = 42,
    dup_fraction: float = 0.35,
    n_orgs: int = 7,
    n_repos: int = 29,
) -> SynthTables:
    """Deterministic table with ~``dup_fraction`` of rows participating
    in planted duplicate structures (FIXTURES.md §2):

    - ``exact_dup``     verbatim clone under a new (repo, path)
    - ``near_dup``      1-5 token substitutions
    - ``substring_dup`` base embedded verbatim in a larger file
    - ``label_error``   verbatim clone with a different ``lang``
    - ``off_topic``     uniform-random characters (max isolation)
    - ``background``    independent content, far below threshold
    """
    rng = np.random.default_rng(seed)
    rows: list[dict] = []
    truth: list[dict] = []

    n_planted = int(n_rows * dup_fraction)
    n_groups = max(1, n_planted // 3)  # avg 3 rows per planted group
    n_background = n_rows - n_planted

    # Zipf-skewed repo assignment: a few repos hold most files
    def pick_repo() -> str:
        org = int(rng.zipf(1.6)) % n_orgs
        rep = int(rng.zipf(1.4)) % n_repos
        return f"org{org}/repo{rep}"

    def commit_of(repo: str) -> str:
        return hashlib.sha1(f"{repo}:{seed}".encode()).hexdigest()[:12]

    counter = 0

    def add_row(lang: str, content: str, kind: str, group: int) -> None:
        nonlocal counter
        repo = pick_repo()
        path = f"src/mod{counter % 13}/{kind[:4]}_{counter}.{_EXT[lang]}"
        rows.append(
            {
                "repo": repo,
                "path": path,
                "commit": commit_of(repo),
                "lang": lang,
                "content": content,
            }
        )
        truth.append({"path": path, "truth_kind": kind, "group_id": group})
        counter += 1

    # planted groups
    kinds = ["exact_dup", "near_dup", "substring_dup", "label_error"]
    planted_emitted = 0
    g = 0
    while planted_emitted < n_planted:
        kind = kinds[g % len(kinds)]
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        base = _gen_content(rng, lang, int(rng.integers(200, 1200)))
        group_size = int(rng.integers(2, 5))
        add_row(lang, base, kind, g)
        for j in range(group_size - 1):
            if kind == "exact_dup":
                add_row(lang, base, kind, g)
            elif kind == "near_dup":
                add_row(lang, _mutate(rng, base, int(rng.integers(1, 6))), kind, g)
            elif kind == "substring_dup":
                pre = _gen_content(rng, lang, int(rng.integers(20, 60)))
                post = _gen_content(rng, lang, int(rng.integers(20, 60)))
                add_row(lang, pre + base + post, kind, g)
            elif kind == "label_error":
                other = LANGS[(LANGS.index(lang) + 1 + j) % len(LANGS)]
                add_row(other, base, kind, g)
        planted_emitted += group_size
        g += 1

    # one off-topic row (uniform-random characters, ≙ ones-among-zeros)
    alphabet = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789#$%&!?"))
    junk = "".join(rng.choice(alphabet, size=3000))
    add_row("python", junk, "off_topic", -2)

    # background rows: independent seeded content
    for _ in range(max(0, n_background - 1)):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        add_row(lang, _gen_content(rng, lang, int(rng.integers(50, 2000))), "background", -1)

    code_files = pd.DataFrame(rows)
    truth_df = pd.DataFrame(truth)
    return SynthTables(code_files=code_files, truth=truth_df)


def synth_code_files_spark(
    spark,
    n_rows: int,
    seed: int = 42,
    dup_fraction: float = 0.35,
    n_orgs: int = 7,
    n_repos: int = 29,
    partitions: int | None = None,
):
    """Distributed deterministic generator for bench-scale corpora
    (10^5–10^6 rows): content is a pure function of the row index, so
    the table is identical at any partitioning/parallelism — the
    precondition for the local[8]-vs-local[32] scaling evidence.

    Planted structure mirrors :func:`generate_code_files`: row indices
    below ``n_rows * dup_fraction`` belong to duplicate groups of 3
    (exact clone / near clone cycling by group), the rest are
    independent background rows.  Returns a DataFrame with the
    ``code_files`` schema plus a ``truth_group`` column (drop it before
    feeding the pipeline; keep it for recall spot-checks).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("repo", StringType(), False),
            StructField("path", StringType(), False),
            StructField("commit", StringType(), False),
            StructField("lang", StringType(), False),
            StructField("content", StringType(), False),
            StructField("truth_group", LongType(), False),
        ]
    )
    n_planted = int(n_rows * dup_fraction)
    group_size = 3

    @worker_task
    def gen(batches):
        import numpy as np  # noqa: PLC0415 — executor-side import
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {k: [] for k in ("repo", "path", "commit", "lang", "content", "truth_group")}
            for idx in pdf["id"].to_numpy():
                idx = int(idx)
                if idx < n_planted:
                    group = idx // group_size
                    member = idx % group_size
                else:
                    group = -1
                    member = 0
                # content derives from the GROUP (clones share a base)
                content_seed = (seed << 20) ^ (group if group >= 0 else (1 << 40) + idx)
                rng = np.random.default_rng(content_seed)
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                # realistic source-file sizes (~2-20 KB) so per-row kernel
                # compute, not per-task overhead, dominates benchmarks
                base = _gen_content(rng, lang, int(rng.integers(400, 3000)))
                if group >= 0 and member > 0 and group % 2 == 1:
                    # near clone: deterministic per-member edits
                    mrng = np.random.default_rng(content_seed + member)
                    content = _mutate(mrng, base, int(mrng.integers(1, 5)))
                else:
                    content = base  # exact clone (or base/background row)
                repo = f"org{int(rng.zipf(1.6)) % n_orgs}/repo{int(rng.zipf(1.4)) % n_repos}"
                out["repo"].append(repo)
                out["path"].append(f"src/m{idx % 13}/f_{idx}.{_EXT[lang]}")
                out["commit"].append(hashlib.sha1(f"{repo}:{seed}".encode()).hexdigest()[:12])
                out["lang"].append(lang)
                out["content"].append(content)
                out["truth_group"].append(group)
            yield pd.DataFrame(out)

    parts = partitions or max(32, n_rows // 4000)
    base = spark.range(0, n_rows, numPartitions=parts)
    return base.mapInPandas(gen, schema=schema)


def write_parquet(tables: SynthTables, out_dir: str) -> tuple[str, str]:
    """Materialize fixture tables; returns (code_files_path, truth_path)."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    cf = os.path.join(out_dir, "code_files.parquet")
    tr = os.path.join(out_dir, "truth.parquet")
    tables.code_files.to_parquet(cf, index=False)
    tables.truth.to_parquet(tr, index=False)
    return cf, tr
