"""Oracles computed outside Spark, from the generated inputs only.

``StubEmbedder`` re-derives the pipeline's deterministic query embedding
from its specification (per-token md5 seed xor 42 -> 64 uniforms in
[-1, 1), summed in token order, L2-normalised) so that a change to the
program's embedding is caught rather than followed. Every check returns a
list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np

DIM = 64
STUB_SEED = 42
TIE_EPS = 1e-9


class StubEmbedder:
    """Exact re-implementation of the stub embedding with a per-token cache."""

    def __init__(self) -> None:
        self._tok: dict[str, np.ndarray] = {}

    def token(self, tok: str) -> np.ndarray:
        v = self._tok.get(tok)
        if v is None:
            seed = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            r = random.Random(seed ^ STUB_SEED)
            v = np.array([r.uniform(-1.0, 1.0) for _ in range(DIM)], dtype=np.float64)
            self._tok[tok] = v
        return v

    def embed(self, text: str) -> np.ndarray:
        acc = np.zeros(DIM, dtype=np.float64)
        for tok in text.split():
            acc += self.token(tok)
        n = math.sqrt(sum(x * x for x in acc.tolist()))
        return acc if n == 0.0 else acc / n


def cosine_distances(matrix64: np.ndarray, norms: np.ndarray, v: np.ndarray) -> np.ndarray:
    return 1.0 - (matrix64 @ v) / (norms * np.linalg.norm(v))


def ranked(dist: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the k best (distance asc, id asc)."""
    k = min(k, len(dist))
    part = np.argpartition(dist, min(k + 8, len(dist) - 1))[:k + 8]
    order = np.lexsort((ids[part], dist[part]))
    return part[order[:k]]


def tie_variants(order: list[int], dist: np.ndarray, n: int) -> list[list[int]]:
    """``order[:n]`` plus each variant with adjacent near-tied items swapped,
    so a last-ulp difference between numpy and Spark is no failure."""
    out = [order[:n]]
    for i in range(min(n, len(order) - 1)):
        a, b = order[i], order[i + 1]
        if abs(dist[a] - dist[b]) <= TIE_EPS:
            alt = list(order)
            alt[i], alt[i + 1] = b, a
            out.append(alt[:n])
    return out


# ------------------------------------------------------------------ rag_serve

class RagOracle:
    """Expected (prompt, summary, n_docs) of ``search_with_summary``."""

    def __init__(self, vectors: np.ndarray, texts: list[str], template: str,
                 separator: str, top_n: int, k: int) -> None:
        self.m = vectors.astype(np.float64)
        self.norms = np.linalg.norm(self.m, axis=1)
        self.ids = np.arange(len(vectors))
        self.texts = texts
        self.template = template
        self.separator = separator
        self.top_n = top_n
        self.k = k
        self.embedder = StubEmbedder()

    def expected(self, query: str) -> list[str]:
        """Acceptable prompts: the strict (score, id) order and its near-tie
        variants."""
        dist = cosine_distances(self.m, self.norms, self.embedder.embed(query))
        order = [int(i) for i in ranked(dist, self.ids, self.k + 1)]
        prompts = []
        for ids in tie_variants(order, dist, self.top_n):
            context = self.separator.join(self.texts[i] for i in ids)
            prompts.append(self.template % (query, context))
        return prompts

    def check(self, query: str, rows: list) -> tuple[list[str], float]:
        """Problems with the collected rows, and 1.0 when the reply is the
        oracle's, else 0.0."""
        prompts = self.expected(query)
        if len(rows) != 1:
            return [f"expected 1 row, got {len(rows)}"], 0.0
        prompt, summary, n_docs = rows[0]
        problems = []
        if prompt not in prompts:
            problems.append("prompt differs from the numpy top-k prompt")
        if summary != summary_stub(prompt):
            problems.append("summary is not the stub summary of the prompt")
        if n_docs != min(self.top_n, self.k):
            problems.append(f"n_docs {n_docs}")
        return problems, 0.0 if problems else 1.0


def summary_stub(prompt: str) -> str:
    return f"[stub-summary {hashlib.md5(prompt.encode('utf-8')).hexdigest()[:12]}]"


# --------------------------------------------------------------- ingest_mixed

def check_dedup_pairs(pairs: list[tuple[int, int]], new_ids: set[int],
                      store_ids: set[int], injected: dict[int, int]) -> tuple[list[str], int, int]:
    """Pairs (new id a, stored id b). Returns problems, injected near-dups
    detected, and detected new ids outside the schedule (false pairs)."""
    problems = []
    bad = [(a, b) for a, b in pairs if a not in new_ids or b not in store_ids]
    if bad:
        problems.append(f"{len(bad)} pairs reference ids outside the batch/store")
    flagged = {a for a, _ in pairs}
    detected = sum(1 for a in injected if a in flagged)
    false_new = len(flagged - set(injected))
    return problems, detected, false_new


def check_read(rows: list, vector_of, query: np.ndarray, k: int) -> list[str]:
    """A reader's hits while the store grows: at most k distinct, all of them
    written ids, ascending, and each score the numpy cosine distance between
    the query and that doc's embedding. Fewer than k hits (the probed cells
    held fewer rows) is no failure."""
    problems = []
    if not 1 <= len(rows) <= k:
        problems.append(f"{len(rows)} hits, expected 1..{k}")
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        problems.append("duplicate hits")
    vecs = [vector_of(i) for i in ids]
    if any(v is None for v in vecs):
        return problems + ["hit outside the written ids"]
    scores = np.array([r[1] for r in rows], dtype=np.float64)
    if np.any(np.diff(scores) < -TIE_EPS):
        problems.append("scores not ascending")
    if vecs:
        m = np.array(vecs, dtype=np.float64)
        want = cosine_distances(m, np.linalg.norm(m, axis=1), query)
        if np.any(np.abs(want - scores) > TIE_EPS):
            problems.append("scores differ from numpy cosine distance")
    return problems
