"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed, so one seed always gives
the same inputs.  The package's own generator (``selfclean_spark.synth``)
is deliberately not imported: edits to it must not change what the
benchmark measures.  Each generator also returns a truth sidecar (family
ids and the planted pairs whose exact Jaccard clears the threshold); the
program under test never sees it.
"""

from __future__ import annotations

import hashlib
import itertools
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

LANGS = ["python", "java", "go", "js", "c"]
_EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
_KEYWORDS = {
    "python": "def return import class self if else for in range print len None True lambda yield with try except".split(),
    "java": "public static void class int String new return if else for while import package final private this null".split(),
    "go": "func package import return if else for range var const type struct interface go defer chan map nil".split(),
    "js": "function const let var return if else for while class new this import export default async await null".split(),
    "c": "int char void return if else for while struct typedef static const unsigned sizeof include define NULL break".split(),
}
_PUNCT = ["(", ")", "{", "}", "=", "+", "-", "*", ";", ",", ":", "==", "->"]
_SHARED = [f"v{i}" for i in range(40)] + [f"fn{i}" for i in range(40)]


# ---------------------------------------------------------------- truth


def char_grams(text: str, k: int = 5) -> set[bytes]:
    raw = text.encode("utf-8")
    return {raw[i : i + k] for i in range(max(1, len(raw) - k + 1))}


def token_grams(text: str, w: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i : i + w]) for i in range(max(1, len(toks) - w + 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def truth_pairs(
    texts: list[str], families: list[list[int]], tau: float, grams
) -> list[tuple[int, int]]:
    """Planted (row, row) pairs whose exact Jaccard under ``grams`` is at
    least ``tau``.  Verbatim families skip the set algebra."""
    out: list[tuple[int, int]] = []
    for fam in families:
        if all(texts[i] == texts[fam[0]] for i in fam):
            out.extend(itertools.combinations(fam, 2))
            continue
        sets = {i: grams(texts[i]) for i in fam}
        out.extend(
            (a, b)
            for a, b in itertools.combinations(fam, 2)
            if jaccard(sets[a], sets[b]) >= tau
        )
    return out


# ------------------------------------------------------------ code files


@dataclass
class Corpus:
    rows: list[dict] = field(default_factory=list)
    families: list[list[int]] = field(default_factory=list)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(self.rows, columns=["repo", "path", "commit", "lang", "content"])

    @property
    def texts(self) -> list[str]:
        return [r["content"] for r in self.rows]


class CodeGen:
    """Template source files: shared keywords plus per-file identifiers,
    so unrelated files stay far below any dedup threshold."""

    def __init__(self, seed: int, tag: str):
        self.rng = np.random.default_rng(seed)
        self.seed = seed
        self.tag = tag
        self.corpus = Corpus()

    def text(self, lang: str, n_tokens: int) -> str:
        rng = self.rng
        local = [f"s{int(x):x}" for x in rng.integers(0, 1 << 40, size=24)]
        vocab = _KEYWORDS[lang] + _SHARED + _PUNCT + local * 3
        words = [vocab[i] for i in rng.integers(0, len(vocab), size=n_tokens)]
        lines = [" ".join(words[i : i + 8]) for i in range(0, n_tokens, 8)]
        return "\n".join(lines) + "\n"

    def mutate(self, text: str, n_edits: int) -> str:
        toks = text.split(" ")
        for pos in self.rng.integers(0, len(toks), size=n_edits):
            toks[pos] = f"e{int(self.rng.integers(0, 1 << 30)):x}"
        return " ".join(toks)

    def add(self, lang: str, content: str) -> int:
        i = len(self.corpus.rows)
        org = int(self.rng.zipf(1.6)) % 7
        repo = f"org{org}/repo{int(self.rng.zipf(1.4)) % 29}"
        self.corpus.rows.append(
            {
                "repo": repo,
                "path": f"src/m{i % 13}/{self.tag}_{i}.{_EXT[lang]}",
                "commit": hashlib.sha1(f"{repo}:{self.seed}".encode()).hexdigest()[:12],
                "lang": lang,
                "content": content,
            }
        )
        return i

    def lang(self) -> str:
        return LANGS[int(self.rng.integers(0, len(LANGS)))]

    def family(self, kind: str, tokens: tuple[int, int], size: int) -> list[int]:
        """One planted family; member 0 is the base file."""
        rng = self.rng
        lang = self.lang()
        base = self.text(lang, int(rng.integers(*tokens)))
        members = [self.add(lang, base)]
        prev = base
        for j in range(size - 1):
            if kind == "verbatim":
                members.append(self.add(lang, base))
            elif kind == "near":
                members.append(self.add(lang, self.mutate(base, int(rng.integers(1, 6)))))
            elif kind == "chain":  # each member edits the previous one
                prev = self.mutate(prev, 2)
                members.append(self.add(lang, prev))
            elif kind == "substring":
                pre = self.text(lang, int(rng.integers(20, 60)))
                post = self.text(lang, int(rng.integers(20, 60)))
                members.append(self.add(lang, pre + base + post))
            elif kind == "langflip":
                other = LANGS[(LANGS.index(lang) + 1 + j) % len(LANGS)]
                members.append(self.add(other, base))
        self.corpus.families.append(members)
        return members

    def background(self, n: int, tokens: tuple[int, int]) -> None:
        for _ in range(n):
            self.add(self.lang(), self.text(self.lang(), int(self.rng.integers(*tokens))))


# 2-20 KB files at ~6.5 bytes per token
FILE_TOKENS = (300, 3000)
KINDS = ("verbatim", "near", "substring", "langflip")


def mixed_code_files(seed: int, n_files: int, bucket_cap: int) -> Corpus:
    """``batch_mixed``: the two families that make the cap and
    multi-round paths fire — one short verbatim family larger than
    ``bucket_cap`` and one chained near-clone family whose far ends are
    below the threshold — then 2-20 KB files: 20 % of ``n_files`` in
    small verbatim, near, substring and lang-flipped clone families, the
    rest background."""
    g = CodeGen(seed, "f")
    g.family("verbatim", (60, 120), bucket_cap + 10)
    g.family("chain", (120, 200), 24)
    n_planted = len(g.corpus.rows) + int(0.2 * n_files)
    k = 0
    while len(g.corpus.rows) < n_planted:
        g.family(KINDS[k % len(KINDS)], FILE_TOKENS, int(g.rng.integers(2, 5)))
        k += 1
    g.background(n_files - len(g.corpus.rows), FILE_TOKENS)
    return _shuffled(g.corpus, seed)


def _shuffled(c: Corpus, seed: int) -> Corpus:
    order = np.random.default_rng(seed + 1).permutation(len(c.rows))
    where = np.empty_like(order)
    where[order] = np.arange(len(order))
    return Corpus(
        rows=[c.rows[i] for i in order],
        families=[sorted(int(where[i]) for i in f) for f in c.families],
    )


# ------------------------------------------------------- query surface


_DOC_WORDS = [f"w{i}" for i in range(600)]


def query_tables(seed: int, n_docs: int = 500) -> tuple[dict[str, pd.DataFrame], list[list[int]]]:
    """``query_surface``: a small TPC-H-shaped star schema plus the
    ``events``, ``documents`` and ``embeddings`` tables the query surface
    reads.  Documents carry planted near-duplicate families (token
    3-gram Jaccard well above 0.5); returns (tables, doc families)."""
    rng = np.random.default_rng(seed)
    ts = lambda lo, hi, n: pd.to_datetime(  # noqa: E731
        rng.integers(pd.Timestamp(lo).value // 1000, pd.Timestamp(hi).value // 1000, size=n),
        unit="us",
    )
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, size=n), 2)  # noqa: E731
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], size=n_cust
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        }
    )
    adj = ["blue", "cold", "green", "hot", "red", "small"]
    noun = ["anvil", "bolt", "gizmo", "ring", "rod", "widget"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], size=n_part),
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": ts("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord
            ),
        }
    )
    lines = rng.integers(1, 8, size=n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
            "l_partkey": rng.integers(0, n_part, size=n_li),
            "l_suppkey": rng.integers(0, n_supp, size=n_li),
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["F", "O"], size=n_li),
            "l_shipdate": ts("1995-01-02", "2001-11-04", n_li),
        }
    )
    n_ev = 1000
    t["events"] = (
        pd.DataFrame(
            {
                "ts": ts("2024-01-01", "2024-01-31", n_ev),
                "user_id": rng.integers(0, 15, size=n_ev),
                "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], size=n_ev),
                "value": money(0, 330, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
            }
        )
        .sort_values("ts", kind="stable")
        .reset_index(drop=True)
    )
    t["events"].insert(0, "event_id", np.arange(n_ev, dtype=np.int64))

    texts: list[str] = []
    families: list[list[int]] = []

    def doc(n_words: int) -> list[str]:
        return [_DOC_WORDS[i] for i in rng.integers(0, len(_DOC_WORDS), size=n_words)]

    # One out-of-vocabulary word per clone: no clone is verbatim, and any
    # two members stay above 3-gram Jaccard 0.85, where a 32x4 LSH miss
    # (probability ~1e-11) cannot make a query disagree with its exact twin.
    while len(texts) < int(0.3 * n_docs):
        base = doc(int(rng.integers(80, 150)))
        fam = [len(texts)]
        texts.append(" ".join(base))
        for _ in range(int(rng.integers(1, 4))):
            words = list(base)
            words[int(rng.integers(0, len(words)))] = f"x{int(rng.integers(0, 1 << 30)):x}"
            fam.append(len(texts))
            texts.append(" ".join(words))
        families.append(fam)
    while len(texts) < n_docs:
        texts.append(" ".join(doc(int(rng.integers(10, 90)))))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(["de", "en", "es", "fr", "zh"], size=n_docs),
            "source": [f"src{i}" for i in rng.integers(0, 20, size=n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_docs)
    vecs = centers[labels] + 0.3 * rng.normal(size=(n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": labels.astype(np.int32),
        }
    )
    return t, families
