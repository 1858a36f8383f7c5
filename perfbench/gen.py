"""Seeded corpus generators with planted truth, one per workload.

Each generator is a pure function of (workload, seed): the same seed
gives byte-identical parquet and the same truth file. The library only
ever sees the parquet written here; the truth stays with the harness.

Truth, per corpus:
- ``pairs``: planted duplicate pairs that must end up co-clustered —
  exact copies, and near variants whose true shingle Jaccard (computed
  here, independently of the library's kernels) is at least the
  workload's threshold;
- ``unique``: planted-unique docs, which must stay singletons.

Docs that are neither (the hot bucket family of ``dup_dense``, the
chain links whose drift takes them under the threshold) are excluded
from both sets: the library may or may not merge them.

Corpora are cached under the work directory keyed by (workload, seed),
and generation is never inside a timed window.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# vocabulary: code-ish tokens, so shingles look like source text
_WORDS = (
    "def return import class self for in if else while lambda yield from "
    "with try except raise assert pass none true false print len range "
    "open data value result index count total buffer stream token parse "
    "node tree hash key map fold scan emit"
).split()
VOCAB = np.array([f"{w}{i}" for w in _WORDS for i in range(40)])
# scan_long draws from a 100x larger one: over docs this long, the small
# vocabulary's shared char shingles give unrelated docs enough overlap
# for ~10 chance LSH candidates per planted pair, and verifying those
# outweighs the scan the workload is meant to load
VOCAB_LONG = np.array([f"{w}{i}" for w in _WORDS for i in range(4000)])


@dataclass
class Corpus:
    docs: list[tuple[str, str]] = field(default_factory=list)  # (fid, content)
    pairs: list[tuple[str, str]] = field(default_factory=list)
    unique: list[str] = field(default_factory=list)


def true_jaccard(a: str, b: str, k: int) -> float:
    """Exact char-k-shingle set Jaccard over UTF-8 bytes (the corpora
    are ASCII), written independently of functions.hashing."""
    ba, bb = a.encode(), b.encode()
    sa = {ba[i : i + k] for i in range(max(len(ba) - k + 1, 1))}
    sb = {bb[i : i + k] for i in range(max(len(bb) - k + 1, 1))}
    return len(sa & sb) / len(sa | sb)


class _Gen:
    def __init__(self, seed: int, tag: str, vocab: np.ndarray = VOCAB):
        self.rng = np.random.RandomState(seed % (2**31 - 1))
        self.tag = tag
        self.vocab = vocab
        self.n = 0
        self.corpus = Corpus()

    def tokens(self, n_tokens: int) -> np.ndarray:
        return self.vocab[self.rng.randint(0, len(self.vocab), n_tokens)]

    def edit(self, toks: np.ndarray, n_edits: int) -> np.ndarray:
        out = toks.copy()
        pos = self.rng.choice(len(toks), n_edits, replace=False)
        for p in pos:
            out[p] = f"e{self.rng.randint(1 << 30):x}"
        return out

    def add(self, toks: np.ndarray) -> tuple[str, str]:
        fid = f"{self.tag}_{self.n % 64:02d}/src/f_{self.n:07d}.py"
        self.n += 1
        doc = (fid, " ".join(toks.tolist()))
        self.corpus.docs.append(doc)
        return doc

    def near(self, a: tuple[str, str], b: tuple[str, str], k: int, tau: float):
        if true_jaccard(a[1], b[1], k) >= tau:
            self.corpus.pairs.append((a[0], b[0]))

    def exact_class(self, n_tokens: int, size: int) -> None:
        toks = self.tokens(n_tokens)
        root = self.add(toks)
        for _ in range(size - 1):
            self.corpus.pairs.append((root[0], self.add(toks)[0]))

    def uniques(self, n_tokens: int, count: int) -> None:
        for _ in range(count):
            self.corpus.unique.append(self.add(self.tokens(n_tokens))[0])


def gen_scan_long(seed: int, n_docs: int, n_tokens: int, k: int, tau: float) -> Corpus:
    """Long docs, ≥ 95% unique: a few exact copies and near pairs, so
    the scan carries the run and LSH/verify/CC see few candidates."""
    g = _Gen(seed, "long", VOCAB_LONG)
    for _ in range(n_docs // 100):  # 2% exact copies (pairs)
        g.exact_class(n_tokens, 2)
    for _ in range(n_docs // 100):  # 2% near pairs at J ≈ 0.8
        a = g.add(g.tokens(n_tokens))
        g.near(a, g.add(g.edit(np.array(a[1].split()), n_tokens // 20)), k, tau)
    g.uniques(n_tokens, n_docs - g.n)
    return g.corpus


def gen_dup_dense(
    seed: int, n_docs: int, n_tokens: int, k: int, tau: float,
    chain_len: int, hot_family: int,
) -> Corpus:
    """Short docs, mostly near-dup edit chains (each version a light
    edit of the previous, so only neighbours are near and CC needs
    several pointer-doubling rounds), Zipf-sized exact classes, and one
    family of near-identical docs larger than the LSH bucket cap."""
    g = _Gen(seed, "dense")
    per_version = max(n_tokens // 20, 1)
    n_chain_docs = int(n_docs * 0.6)
    while g.n + chain_len <= n_chain_docs:
        prev = g.add(g.tokens(n_tokens))
        for _ in range(chain_len - 1):
            cur = g.add(g.edit(np.array(prev[1].split()), per_version))
            g.near(prev, cur, k, tau)
            prev = cur
    # Zipf-sized exact classes, sizes fixed by n_docs (not the seed) so
    # every seed gives the same amount of work: size ∝ 1/rank
    exact_budget = int(n_docs * 0.12)
    rank = 1
    while exact_budget >= 2:
        size = min(max(int(exact_budget / 2 / rank), 2), exact_budget)
        g.exact_class(n_tokens, size)
        exact_budget -= size
        rank += 1
    # the hot family: one template, one token changed per member, so
    # most band hashes are shared by every member (> max_bucket_size)
    template = g.tokens(n_tokens)
    for i in range(hot_family):
        toks = template.copy()
        toks[g.rng.randint(n_tokens)] = f"hot{i}"
        g.add(toks)
    g.uniques(n_tokens, n_docs - g.n)
    return g.corpus


def gen_modes_mix(seed: int, n_docs: int, n_tokens: int, k: int, tau: float) -> Corpus:
    """The bench.py class mix — 5% boilerplate, 5% exact classes, 10%
    near pairs, 80% unique — with one-token near edits, so the pairs
    are within the simhash Hamming radius as well as the Jaccard one."""
    g = _Gen(seed, "mix")
    g.exact_class(n_tokens, n_docs // 20)  # boilerplate: one shared content
    for _ in range(n_docs // 20 // 5):
        g.exact_class(n_tokens, 5)
    for _ in range(n_docs // 20):
        a = g.add(g.tokens(n_tokens))
        g.near(a, g.add(g.edit(np.array(a[1].split()), 1)), k, tau)
    g.uniques(n_tokens, n_docs - g.n)
    return g.corpus


def gen_append(
    seed: int, n_base: int, n_batches: int, batch_docs: int, n_tokens: int,
    k: int, tau: float,
) -> tuple[Corpus, list[int]]:
    """A bench.py-like base followed by small batches. Each batch holds
    new uniques, exact and near copies of base docs, and dups within
    the batch. Returns the corpus (base first, then the batches in
    order) and the doc count at the end of the base and of each batch."""
    g = _Gen(seed, "app")
    g.exact_class(n_tokens, n_base // 20)
    for _ in range(n_base // 20 // 5):
        g.exact_class(n_tokens, 5)
    for _ in range(n_base // 20):
        a = g.add(g.tokens(n_tokens))
        g.near(a, g.add(g.edit(np.array(a[1].split()), n_tokens // 25)), k, tau)
    g.uniques(n_tokens, n_base - g.n)
    base_docs = list(g.corpus.docs)
    bounds = [g.n]
    q = batch_docs // 10
    copied = set()
    for _ in range(n_batches):
        for _ in range(q):  # exact copy of a base doc
            src = base_docs[g.rng.randint(len(base_docs))]
            copied.add(src[0])
            g.corpus.pairs.append((src[0], g.add(np.array(src[1].split()))[0]))
        for _ in range(q):  # near copy of a base doc
            src = base_docs[g.rng.randint(len(base_docs))]
            copied.add(src[0])
            g.near(src, g.add(g.edit(np.array(src[1].split()), n_tokens // 25)), k, tau)
        for _ in range(q // 2):  # in-batch exact and near pairs
            g.exact_class(n_tokens, 2)
            a = g.add(g.tokens(n_tokens))
            g.near(a, g.add(g.edit(np.array(a[1].split()), n_tokens // 25)), k, tau)
        g.uniques(n_tokens, bounds[-1] + batch_docs - g.n)
        bounds.append(g.n)
    # a base unique that a batch copied is no longer unique
    g.corpus.unique = [u for u in g.corpus.unique if u not in copied]
    return g.corpus, bounds


def write_parquet(path: str, docs: list[tuple[str, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    repos = [f.split("/", 1)[0] for f, _ in docs]
    paths = [f.split("/", 1)[1] for f, _ in docs]
    n = len(docs)
    table = pa.table(
        {
            "repo": pa.array(repos, pa.string()),
            "path": pa.array(paths, pa.string()),
            "commit": pa.array(["c0"] * n, pa.string()),
            "lang": pa.array(["py"] * n, pa.string()),
            "content": pa.array([c for _, c in docs], pa.string()),
            "mtime": pa.array(
                [1767225600_000_000] * n, pa.timestamp("us", tz="UTC")
            ),
            "is_symlink": pa.array([False] * n, pa.bool_()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def save_truth(path: str, corpus: Corpus, **extra) -> None:
    with open(path, "w") as fh:
        json.dump(
            {"pairs": corpus.pairs, "unique": corpus.unique, **extra}, fh
        )


def load_truth(path: str) -> dict:
    with open(path) as fh:
        t = json.load(fh)
    t["pairs"] = [tuple(p) for p in t["pairs"]]
    return t


def load_docs(corpus_dir: str) -> list[tuple[str, str]]:
    """(fid, content) of a cached corpus: the batch corpus, or the base
    of an append corpus."""
    import pyarrow.parquet as pq

    sub = "corpus" if os.path.isdir(os.path.join(corpus_dir, "corpus")) else "base"
    t = pq.read_table(os.path.join(corpus_dir, sub), columns=["repo", "path", "content"])
    return [
        (f"{r}/{p}", c)
        for r, p, c in zip(
            t.column("repo").to_pylist(),
            t.column("path").to_pylist(),
            t.column("content").to_pylist(),
        )
    ]
