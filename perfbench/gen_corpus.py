"""Seeded document corpus and embeddings with planted duplicates.

Documents: Zipf-distributed words from a synthetic vocabulary. A share
of base documents get one to three near-copies with a few words
substituted; every pair inside such a cluster is a planted near-duplicate
pair.

Embeddings: Gaussian clusters in 64 dimensions. Ids below
``N_QUERIES`` are the query sample of ``operators.similarity.knn_ivf``;
each query gets ``TOP_K`` planted neighbours (the query plus tiny noise),
and a share of other vectors get a planted near-duplicate.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass, field

import numpy as np

DIM = 64
N_QUERIES = 8  # operators.similarity.N_QUERIES
TOP_K = 10  # operators.similarity.TOP_K
N_CENTROIDS = 16  # operators.similarity.IVF_CENTROIDS
DUP_SHARE = 0.15  # base documents that get near-copies
EDIT_SHARE = 0.02  # words substituted in a near-copy
VOCAB = 5000
VEC_DUP_SHARE = 0.05  # vectors that get a planted near-duplicate


@dataclass
class Corpus:
    docs: list[tuple[int, str]] = field(default_factory=list)
    planted_pairs: set[tuple[int, int]] = field(default_factory=set)
    vec_ids: np.ndarray | None = None
    vectors: np.ndarray | None = None
    planted_vec_dups: set[int] = field(default_factory=set)  # higher id of each dup pair


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choices(letters, k=rng.randint(3, 9))))
    return sorted(words)


def corpus(seed: int, n_base_docs: int, n_vectors: int) -> Corpus:
    rng = random.Random(seed)
    words = _vocab(rng, VOCAB)
    cum = list(itertools.accumulate(1.0 / (k + 1) for k in range(VOCAB)))

    def doc_words(n: int) -> list[str]:
        return [words[bisect.bisect_left(cum, rng.random() * cum[-1])] for _ in range(n)]

    texts: list[str] = []
    clusters: list[list[int]] = []
    for _ in range(n_base_docs):
        base = doc_words(rng.randint(40, 120))
        members = [len(texts)]
        texts.append(" ".join(base))
        if rng.random() < DUP_SHARE:
            for _ in range(rng.randint(1, 3)):
                copy = list(base)
                for pos in rng.sample(range(len(copy)), max(1, int(len(copy) * EDIT_SHARE))):
                    copy[pos] = rng.choice(words)
                members.append(len(texts))
                texts.append(" ".join(copy))
            clusters.append(members)
    # doc ids: a seeded permutation, so clusters are not contiguous
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    c = Corpus(docs=[(ids[k], t) for k, t in enumerate(texts)])
    for members in clusters:
        for a, b in itertools.combinations(members, 2):
            c.planted_pairs.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    _embeddings(c, np.random.default_rng(seed), n_vectors)
    return c


def _embeddings(c: Corpus, rng: np.random.Generator, n: int) -> None:
    centers = rng.normal(size=(32, DIM))
    vecs = centers[rng.integers(0, 32, size=n)] + rng.normal(scale=0.6, size=(n, DIM))
    ids = np.arange(n)
    free = rng.permutation(np.arange(N_CENTROIDS, n))
    used = 0
    # planted neighbours of every query: the query plus tiny noise
    for q in range(N_QUERIES):
        for _ in range(TOP_K):
            vecs[free[used]] = vecs[q] + rng.normal(scale=0.01, size=DIM)
            used += 1
    # planted near-duplicates elsewhere: the copy gets the higher id
    n_dups = int(n * VEC_DUP_SHARE)
    for _ in range(n_dups):
        a, b = sorted((int(free[used]), int(free[used + 1])))
        used += 2
        vecs[b] = vecs[a] + rng.normal(scale=0.01, size=DIM)
        c.planted_vec_dups.add(b)
    c.vec_ids = ids
    c.vectors = vecs
