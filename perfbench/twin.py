"""Exact numpy/Python twins of the operations the workloads run, and the
comparison rules the checker applies.

The vector twins reproduce the package's arithmetic bit for bit:
`functions/distance.py` folds a dot product left to right in double
precision (`acc + x_i * y_i`), so the twin folds column by column in
float64 the same way instead of calling BLAS. Scores are still compared
within `TOL`, and ranked lists are compared tie-class by tie-class so a
last-ulp difference between two nearly equal scores cannot turn into a
false failure.
"""

from __future__ import annotations

import math

import numpy as np

TOL = 1e-9
METRICS = ("cosine", "dot", "l2")
ASCENDING = {"cosine": False, "dot": False, "l2": True}


# ------------------------------------------------------------- vectors
def fold_dot(m: np.ndarray, q: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * q[j]
    return acc


def scores(m: np.ndarray, q: np.ndarray, metric: str,
           norms: np.ndarray | None = None) -> np.ndarray:
    """Score of every row of `m` (float64) against `q`. `norms` may
    pass precomputed sqrt(fold_dot(m, m)) per row."""
    if metric == "dot":
        return fold_dot(m, q)
    if metric == "cosine":
        if norms is None:
            norms = row_norms(m)
        return fold_dot(m, q) / (norms * math.sqrt(fold_dot(q[None, :], q)[0]))
    if metric == "l2":
        acc = np.zeros(len(m))
        for j in range(m.shape[1]):
            d = m[:, j] - q[j]
            acc = acc + d * d
        return np.sqrt(acc)
    raise ValueError(metric)


def row_norms(m: np.ndarray) -> np.ndarray:
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * m[:, j]
    return np.sqrt(acc)


def order(ids: np.ndarray, s: np.ndarray, metric: str) -> np.ndarray:
    """Row indices sorted by (score in metric order, id)."""
    key = s if ASCENDING[metric] else -s
    return np.lexsort((ids, key))


def topk(ids: np.ndarray, s: np.ndarray, metric: str, k: int,
         offset: int = 0) -> list[tuple[int, float]]:
    idx = order(ids, s, metric)[offset:offset + k]
    return [(int(ids[i]), float(s[i])) for i in idx]


# --------------------------------------------------------- comparisons
def ranked_mismatch(got: list[tuple[int, float]],
                    want: list[tuple[int, float]],
                    tol: float = TOL) -> str | None:
    """None when `got` equals `want` as a ranked list: same length, the
    scores agree within `tol` position by position, and every run of
    tied scores (within `tol`) holds the same ids. Otherwise a reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for i, ((_, gs), (_, ws)) in enumerate(zip(got, want)):
        if not close(gs, ws, tol):
            return f"score at rank {i}: {gs!r} != {ws!r}"
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and close(want[j][1], want[i][1], tol):
            j += 1
        if {g for g, _ in got[i:j]} != {w for w, _ in want[i:j]}:
            return f"ids at ranks {i}..{j - 1}: " \
                   f"{[g for g, _ in got[i:j]]} != {[w for w, _ in want[i:j]]}"
        i = j
    return None


def close(a: float, b: float, tol: float) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def recall(got_ids, exact_ids) -> float:
    exact = set(exact_ids)
    return len(exact & set(got_ids)) / max(1, len(exact))


# ---------------------------------------------------------------- text
def tokens(text: str) -> list[str]:
    return [t for t in text.strip(" ").split(" ") if t != ""]


def bm25(texts: dict[int, str], terms: tuple[str, ...],
         k1: float, b: float) -> dict[int, float]:
    """hybrid.bm25_scores: doc_id -> round(score, 6) for docs holding
    at least one term."""
    toks = {d: tokens(t) for d, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tfs = {d: [t.count(term) for term in terms] for d, t in toks.items()}
    df = [sum(1 for v in tfs.values() if v[i] > 0) for i in range(len(terms))]
    out = {}
    for d, tf in tfs.items():
        if max(tf) == 0:
            continue
        dl = len(toks[d])
        total = None
        for i, f in enumerate(tf):
            if f > 0:
                idf = math.log(1 + (n - df[i] + 0.5) / (df[i] + 0.5))
                w = (idf * f * (k1 + 1.0)
                     / (f + k1 * (1.0 - b + b * dl / avgdl)))
            else:
                w = 0.0
            total = w if total is None else total + w
        out[d] = round(total, 6)
    return out


def gopher_keep(text: str, q) -> tuple[int, bool]:
    """quality.gopher_keep for one document: (n_words, keep). `q` is
    the operators.quality module, whose thresholds are read, not
    copied."""
    toks = tokens(text)
    n = len(toks)
    if n == 0:
        return 0, False
    n_sym = text.count("#") + (len(text) - len(text.replace("...", "")))
    mwl = float(sum(len(t) for t in toks)) / n
    dom = float(max(toks.count(t) for t in set(toks))) / n
    n_stop = sum(1 for t in toks if t in q.GOPHER_STOPWORDS)
    keep = (q.GOPHER_MIN_WORDS <= n <= q.GOPHER_MAX_WORDS
            and q.GOPHER_MWL_LO <= mwl <= q.GOPHER_MWL_HI
            and float(n_sym) / n <= q.GOPHER_SYMBOL_MAX
            and n_stop >= q.GOPHER_STOP_MIN
            and dom <= q.GOPHER_DOM_MAX)
    return n, keep


def shingles(text: str, n: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    shared = len(a & b)
    return shared / (len(a) + len(b) - shared) if a or b else 0.0


def components(edges) -> dict[int, int]:
    """node -> min node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
