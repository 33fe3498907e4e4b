"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(kind, seed)``: the same seed writes
byte-identical files. Inputs land in ``<work>/inputs/<kind>-s<seed>-v<N>``
and are reused while a ``manifest.json`` for the same seed and generator
version is present (the manifest is written last, so a half-written directory
is regenerated). The program under test only ever receives these files, never
a workload name.

Sizes are module constants so the notes (README.md) and the code agree.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
DIM = 64

# rag_serve: the sf0.1 shape of the reference's store
RAG_DOCS = 5_000
RAG_VECS = 2_000  # embeddings cover doc_id 0..RAG_VECS-1, like sf0.1
RAG_VOCAB = 2_000
RAG_QUERIES = 4_096

# ingest_mixed: a Zipf-text store, the same for every seed (every run starts
# from the same pristine snapshot), plus a seeded ingest stream with injected
# near-duplicates of stored docs
ING_STORE_SEED = 0
ING_STORE = 2_000
ING_VOCAB = 5_000
ING_ZIPF = 1.1
ING_CYCLE = 100
ING_CYCLES = 12
ING_DUP_RATE = 0.2
ING_WARM = 20
ING_QUERIES = 4_096

_STREAMS = {"vocab": 1, "docs": 2, "vecs": 3, "queries": 4, "stream": 5, "warm": 6}
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
_PARQUET_OPTS = {"compression": "snappy", "write_statistics": True}


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct pseudo-words of two to four syllables."""
    r = rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(r.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in r.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(size: int, exponent: float) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** exponent
    return p / p.sum()


def zipf_texts(r: np.random.Generator, vocab: list[str], probs: np.ndarray,
               n: int, lo: int, hi: int) -> list[str]:
    lens = r.integers(lo, hi + 1, n)
    idx = r.choice(len(vocab), int(lens.sum()), p=probs)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[i] for i in idx[pos:pos + ln]))
        pos += ln
    return out


def query_texts(r: np.random.Generator, vocab: list[str], probs: np.ndarray,
                n: int) -> list[str]:
    """Seeded 2-6-word queries."""
    return zipf_texts(r, vocab, probs, n, 2, 6)


def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **_PARQUET_OPTS)


def _vectors(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))


def _write_json(obj, path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, sort_keys=True)


def read_json(path: str):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


# ------------------------------------------------------------------ rag_serve

def gen_rag(seed: int, out: str) -> None:
    """``documents.parquet`` + ``embeddings.parquet`` in the testdata
    schema, and the query stream."""
    vocab = vocabulary(seed, RAG_VOCAB)
    probs = zipf_probs(RAG_VOCAB, 1.0)
    r = rng(seed, "docs")
    texts = zipf_texts(r, vocab, probs, RAG_DOCS, 8, 48)
    langs = np.array(["en", "de", "es", "ru", "zh"])[r.integers(0, 5, RAG_DOCS)]
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(RAG_DOCS), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 50}" for i in range(RAG_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    rv = rng(seed, "vecs")
    vecs = rv.standard_normal((RAG_VECS, DIM)).astype(np.float32)
    _write_parquet(pa.table({
        "vec_id": pa.array(np.arange(RAG_VECS), pa.int64()),
        "embedding": _vectors(vecs),
        "label": pa.array(rv.integers(0, 10, RAG_VECS), pa.int32()),
    }), os.path.join(out, "embeddings.parquet"))
    np.save(os.path.join(out, "vectors.npy"), vecs)
    _write_json(texts, os.path.join(out, "texts.json"))
    _write_json(query_texts(rng(seed, "queries"), vocab, probs, RAG_QUERIES),
                os.path.join(out, "queries.json"))


# --------------------------------------------------------------- ingest_mixed

def near_duplicate(r: np.random.Generator, text: str, vocab: list[str]) -> str:
    """Replace one word: three shingles change, Jaccard stays >= ~0.8."""
    words = text.split()
    pos = int(r.integers(0, len(words)))
    new = words[pos]
    while new == words[pos]:
        new = vocab[int(r.integers(0, len(vocab)))]
    words[pos] = new
    return " ".join(words)


def ingest_store_texts() -> list[str]:
    vocab = vocabulary(ING_STORE_SEED, ING_VOCAB)
    return zipf_texts(rng(ING_STORE_SEED, "docs"), vocab, zipf_probs(ING_VOCAB, ING_ZIPF),
                      ING_STORE, 30, 60)


def gen_ingest_store(seed: int, out: str) -> None:
    """The pristine store's documents (``seed`` is ``ING_STORE_SEED``)."""
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(ING_STORE), pa.int64()),
        "text": ingest_store_texts(),
    }), os.path.join(out, "documents.parquet", "part-00000.parquet"))


def gen_ingest(seed: int, out: str) -> None:
    """``ING_CYCLES`` ingest batches with their near-dup schedule (new id ->
    stored id it copies), warm-up docs and reader queries."""
    vocab = vocabulary(ING_STORE_SEED, ING_VOCAB)
    probs = zipf_probs(ING_VOCAB, ING_ZIPF)
    store = ingest_store_texts()
    r = rng(seed, "stream")
    cycles = []
    next_id = ING_STORE
    for _ in range(ING_CYCLES):
        fresh = zipf_texts(r, vocab, probs, ING_CYCLE, 30, 60)
        dup_pos = np.sort(r.choice(ING_CYCLE, int(ING_CYCLE * ING_DUP_RATE), replace=False))
        dups = {}
        for p in dup_pos:
            src = int(r.integers(0, ING_STORE))
            fresh[p] = near_duplicate(r, store[src], vocab)
            dups[str(next_id + int(p))] = src
        cycles.append({"first_id": next_id, "texts": fresh, "dups": dups})
        next_id += ING_CYCLE
    warm = zipf_texts(rng(seed, "warm"), vocab, probs, ING_WARM, 30, 60)
    _write_json({"cycles": cycles, "warm": warm, "warm_first_id": 10 ** 9},
                os.path.join(out, "stream.json"))
    _write_json(query_texts(rng(seed, "queries"), vocab, probs, ING_QUERIES),
                os.path.join(out, "queries.json"))


GENERATORS = {"rag_serve": gen_rag, "ingest_mixed": gen_ingest, "ingest_store": gen_ingest_store}


def ensure_inputs(work: str, kind: str, seed: int, keep: int = 4) -> str:
    """Directory holding the inputs of (kind, seed), generated unless a
    complete copy is already there. Older seeds beyond ``keep`` are pruned."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"{kind}-s{seed}-v{GEN_VERSION}")
    manifest = os.path.join(out, "manifest.json")
    if os.path.isfile(manifest):
        os.utime(out)
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    GENERATORS[kind](seed, out)
    _write_json({"kind": kind, "seed": seed, "version": GEN_VERSION}, manifest)
    _prune(root, kind, keep)
    return out


def _prune(root: str, kind: str, keep: int) -> None:
    mine = [os.path.join(root, d) for d in os.listdir(root) if d.startswith(kind + "-s")]
    mine.sort(key=os.path.getmtime, reverse=True)
    for d in mine[keep:]:
        shutil.rmtree(d, ignore_errors=True)
