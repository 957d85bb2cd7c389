"""Seeded corpus and embedding generators with planted truth.

Documents: random word sequences over a synthetic vocabulary, with
planted near-duplicate families.  A family member is its base text
with a case/whitespace change (identical after the engine's
normalisation) or one word changed in the last two positions, so at
most two of its base's 68 or more word 3-shingles differ (Jaccard
>= 0.94); unrelated documents share practically none.  The planted
truth is the number of distinct documents (one canonical per family)
and the families themselves.

Embeddings: clustered vectors plus, for every query vector, one
planted twin (the query plus small noise) that must be its nearest
neighbour.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

WORDS_PER_DOC = (70, 90)
VOCAB = 6000
# about this share of the documents are near duplicates of another one
DUP_SHARE = 0.2
# the embeddings are drawn around this many centres
EMB_CLUSTERS = 24


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    families: list[list[int]]  # doc ids of each planted family (size >= 2)

    @property
    def distinct_docs(self) -> int:
        return len(self.docs) - sum(len(f) - 1 for f in self.families)


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnoprstuvwy"
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def generate_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents; about ``DUP_SHARE`` of them are near
    duplicates of another document."""
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts: list[str] = []
    families: list[list[int]] = []
    while len(texts) < n_docs:
        base = [rng.choice(vocab) for _ in range(rng.randint(*WORDS_PER_DOC))]
        base_id = len(texts)
        texts.append(" ".join(base))
        if rng.random() < DUP_SHARE / (1 - DUP_SHARE) / 1.6:
            fam = [base_id]
            for _ in range(rng.choice([1, 1, 1, 2, 3])):
                if len(texts) >= n_docs:
                    break
                if rng.random() < 0.5:
                    words = list(base)
                    words[len(words) - rng.randint(1, 2)] = rng.choice(vocab)
                    text = " ".join(words)
                else:
                    text = "  ".join(base).upper()
                fam.append(len(texts))
                texts.append(text)
            if len(fam) > 1:
                families.append(fam)
    # shuffle ids so families are not contiguous
    order = list(range(len(texts)))
    rng.shuffle(order)
    new_id = {old: new + 1 for new, old in enumerate(order)}
    docs = sorted((new_id[i], t) for i, t in enumerate(texts))
    return Corpus(docs, [[new_id[i] for i in fam] for fam in families])


@dataclass
class Embeddings:
    vectors: list[tuple[int, list[float]]]  # (vec_id, embedding)
    queries: list[int]  # vec ids used as queries
    twin: dict[int, int]  # query id -> planted nearest neighbour id


def generate_embeddings(seed: int, n: int, dim: int, n_queries: int) -> Embeddings:
    rng = random.Random(seed ^ 0x5EED)
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(EMB_CLUSTERS)]
    vecs: list[list[float]] = []
    for _ in range(n - n_queries):
        c = rng.choice(centers)
        vecs.append([x + rng.gauss(0, 0.35) for x in c])
    queries, twin = [], {}
    picks = rng.sample(range(len(vecs)), n_queries)
    for p in picks:
        vecs.append([x + rng.gauss(0, 0.01) for x in vecs[p]])
        q = p + 1  # vec ids are 1-based
        queries.append(q)
        twin[q] = len(vecs)

    def unit(v):
        s = math.sqrt(sum(x * x for x in v))
        return [round(x / s, 6) for x in v]

    return Embeddings(
        [(i + 1, unit(v)) for i, v in enumerate(vecs)], sorted(queries), twin
    )
