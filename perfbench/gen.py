"""Seeded input generators.

Everything a workload feeds the package comes from here, drawn from a
`numpy.random.Generator` built from the run's `--seed`: the same seed
gives byte-identical inputs. The package only ever sees the generated
tables, collections and request specs.

- `vectors`: clustered float32 vectors (8 overlapping Gaussian blobs
  around random centres), so nearest neighbours are meaningful and ANN
  recall is a real measurement rather than noise. With well separated
  blobs the HNSW graph falls apart into per-blob islands and recall
  swings with the seed (0.75-0.99 over six seeds at 16 blobs of spread
  0.35, 0.98-1.0 at these settings).
- `payload`: low-cardinality `label` / `tenant` columns for filters,
  group-by and catalog partitioning.
- `document`: Zipf-distributed words from a fixed vocabulary with the
  Gopher stopwords mixed in, so most documents pass the quality gate.
- `doc_shard`: a shard of documents with planted near-duplicate groups
  (copies of one base text with a few token substitutions) and a known
  fraction of documents that must fail the quality gate.
"""

from __future__ import annotations

import numpy as np

DIM = 64
CLUSTERS = 8
LABELS = 8
TENANTS = 4
STOPWORDS = ("the", "a", "and", "of", "to")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding draws to one
    input never shifts another input of the same seed."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.default_rng(key)


def vectors(rng: np.random.Generator, n: int, dim: int = DIM,
            clusters: int = CLUSTERS, spread: float = 1.0) -> np.ndarray:
    centres = rng.normal(size=(clusters, dim))
    which = rng.integers(0, clusters, n)
    x = centres[which] + spread * rng.normal(size=(n, dim))
    return x.astype(np.float32)


def queries_near(rng: np.random.Generator, corpus: np.ndarray, n: int,
                 noise: float = 0.25) -> np.ndarray:
    """Query vectors drawn near random corpus points, as float64 values
    of float32 numbers (what a client would send)."""
    base = corpus[rng.integers(0, len(corpus), n)].astype(np.float64)
    q = base + noise * rng.normal(size=base.shape)
    return q.astype(np.float32).astype(np.float64)


def payload(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {"label": rng.integers(0, LABELS, n).astype(np.int32),
            "tenant": rng.integers(0, TENANTS, n).astype(np.int32)}


def vocabulary(size: int = 4000) -> list[str]:
    """Fixed (seed-independent) vocabulary of distinct 3-9 letter
    words; index = Zipf rank."""
    rng = np.random.default_rng(20240917)
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = vocabulary()
_ZIPF_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 1.05
_ZIPF_P /= _ZIPF_P.sum()


def words(rng: np.random.Generator, n: int) -> list[str]:
    idx = rng.choice(len(VOCAB), size=n, p=_ZIPF_P)
    out = [VOCAB[i] for i in idx]
    stops = rng.random(n) < 0.08
    for i in np.flatnonzero(stops):
        out[i] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    return out


def document(rng: np.random.Generator, lo: int = 45, hi: int = 120) -> str:
    return " ".join(words(rng, int(rng.integers(lo, hi))))


def search_terms(rng: np.random.Generator, n: int) -> tuple[str, ...]:
    """Query terms for BM25: mid-frequency vocabulary words (ranks
    5-200), distinct, so every query matches some but not all docs."""
    ranks = rng.choice(np.arange(5, 200), size=n, replace=False)
    return tuple(VOCAB[int(r)] for r in ranks)


def doc_shard(rng: np.random.Generator, first_id: int, n: int,
              dup_frac: float = 0.10, short_frac: float = 0.05) -> dict:
    """`n` documents with ids first_id.. : a `dup_frac` share sits in
    planted near-duplicate groups of 2-4 (one base text, each copy
    with 1-3 token substitutions); a `short_frac` share is too short
    for the quality gate. Returns the columns plus `groups` (lists of
    doc ids planted together)."""
    texts: list[str | None] = [None] * n
    groups: list[list[int]] = []
    order = rng.permutation(n)
    n_dup = int(n * dup_frac)
    pos = 0
    while pos < n_dup:
        size = int(rng.integers(2, 5))
        members = [int(i) for i in order[pos:pos + size]]
        pos += size
        if len(members) < 2:
            break
        base = words(rng, int(rng.integers(60, 120)))
        for m in members:
            toks = list(base)
            for j in rng.choice(len(toks), int(rng.integers(1, 4)),
                                replace=False):
                toks[int(j)] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[m] = " ".join(toks)
        groups.append([first_id + m for m in members])
    for i in order[pos:]:
        i = int(i)
        if rng.random() < short_frac:
            texts[i] = document(rng, 8, 30)
        else:
            texts[i] = document(rng)
    langs = np.where(rng.random(n) < 0.8, "en", "de")
    return {"doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": texts, "lang": langs.tolist(), "groups": groups}
