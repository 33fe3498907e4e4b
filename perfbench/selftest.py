"""Self-tests of the benchmark's own code (no Spark session needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import filecmp
import os
import random
import shutil
import sys
import tempfile
import threading
import types
import unittest

import numpy as np

import common
import gen
import oracle
import tracing

if common.ROOT not in sys.path:
    sys.path.insert(0, common.ROOT)


def _tree_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, names in os.walk(root):
        out += [os.path.relpath(os.path.join(dirpath, n), root) for n in names]
    return sorted(out)


class GeneratorTest(unittest.TestCase):
    def setUp(self) -> None:
        os.makedirs(common.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=common.WORK)

    def tearDown(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _gen(self, kind: str, seed: int, name: str) -> str:
        out = os.path.join(self.tmp, name)
        os.makedirs(out)
        gen.GENERATORS[kind](seed, out)
        return out

    def test_same_seed_gives_byte_identical_inputs(self) -> None:
        for kind in gen.GENERATORS:
            a = self._gen(kind, 7, f"{kind}-a")
            b = self._gen(kind, 7, f"{kind}-b")
            files = _tree_files(a)
            self.assertTrue(files)
            self.assertEqual(files, _tree_files(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), kind)

    def test_other_seed_gives_other_inputs(self) -> None:
        for kind in ("rag_serve", "ingest_mixed"):
            a = self._gen(kind, 7, f"{kind}-a")
            b = self._gen(kind, 8, f"{kind}-b")
            _, mismatch, _ = filecmp.cmpfiles(a, b, _tree_files(a), shallow=False)
            self.assertTrue(mismatch, kind)

    def test_near_duplicates_keep_high_jaccard(self) -> None:
        r = gen.rng(3, "stream")
        vocab = gen.vocabulary(3, 500)
        text = " ".join(vocab[i] for i in r.integers(0, 500, 30))
        dup = gen.near_duplicate(r, text, vocab)
        sh = lambda t: {tuple(t.split()[i:i + 3]) for i in range(len(t.split()) - 2)}
        a, b = sh(text), sh(dup)
        self.assertNotEqual(text, dup)
        self.assertGreaterEqual(len(a & b) / len(a | b), 0.7)


class RagOracleTest(unittest.TestCase):
    def setUp(self) -> None:
        r = np.random.default_rng(1)
        self.texts = [f"doc {i} text" for i in range(40)]
        self.o = oracle.RagOracle(r.standard_normal((40, 8)).astype(np.float32), self.texts,
                                  'Q: "%s"\n%s', "\n\n", 3, 5)
        self.o.embedder = _SmallEmbedder(8)
        self.query = "alpha beta"
        self.prompt = self.o.expected(self.query)[0]

    def _rows(self, prompt=None, summary=None, n_docs=3):
        prompt = self.prompt if prompt is None else prompt
        summary = oracle.summary_stub(prompt) if summary is None else summary
        return [(prompt, summary, n_docs)]

    def test_accepts_the_expected_reply(self) -> None:
        self.assertEqual(self.o.check(self.query, self._rows()), ([], 1.0))

    def test_flags_corrupted_replies(self) -> None:
        head, ctx = self.prompt.split("\n", 1)
        docs = ctx.split("\n\n")
        swapped = head + "\n" + "\n\n".join([docs[1], docs[0]] + docs[2:])
        for rows in (self._rows(prompt=swapped),
                     self._rows(summary="[stub-summary 000000000000]"),
                     self._rows(n_docs=2),
                     self._rows() * 2,
                     []):
            problems, ok = self.o.check(self.query, rows)
            self.assertTrue(problems, rows)
            self.assertEqual(ok, 0.0)


class _SmallEmbedder(oracle.StubEmbedder):
    def __init__(self, dim: int) -> None:
        super().__init__()
        self.dim = dim

    def embed(self, text: str) -> np.ndarray:
        return super().embed(text)[:self.dim]


class StubEmbedderTest(unittest.TestCase):
    def test_matches_the_pipeline_stub(self) -> None:
        from ydb_vector_search_demo_spark.pipeline import rag

        e = oracle.StubEmbedder()
        for q in ("a", "kafe lomu", "зима лето осень", "x y x y z", ""):
            self.assertEqual(e.embed(q).tolist(), rag.embed_query_stub(q), q)

    def test_summary_matches_the_pipeline_stub(self) -> None:
        from ydb_vector_search_demo_spark.pipeline import rag

        for p in ("p", "На основе"):
            self.assertEqual(oracle.summary_stub(p), rag.summarize_stub(p))


class IngestOracleTest(unittest.TestCase):
    def test_dedup_pairs(self) -> None:
        problems, detected, false_new = oracle.check_dedup_pairs(
            [(10, 1), (11, 2)], {10, 11, 12}, {1, 2, 3}, {10: 1, 12: 3})
        self.assertEqual((problems, detected, false_new), ([], 1, 1))
        problems, _, _ = oracle.check_dedup_pairs([(99, 1)], {10}, {1}, {})
        self.assertTrue(problems)
        problems, _, _ = oracle.check_dedup_pairs([(10, 77)], {10}, {1}, {})
        self.assertTrue(problems)

    def test_reads(self) -> None:
        r = np.random.default_rng(2)
        vecs = {i: r.standard_normal(8) for i in range(20)}
        q = r.standard_normal(8)
        ids = sorted(vecs, key=lambda i: (oracle.cosine_distances(vecs[i][None], np.linalg.norm(vecs[i])[None], q)[0], i))[:5]
        rows = [(i, float(oracle.cosine_distances(vecs[i][None], np.linalg.norm(vecs[i])[None], q)[0])) for i in ids]
        self.assertEqual(oracle.check_read(rows, vecs.get, q, 5), [])
        self.assertEqual(oracle.check_read(rows[:3], vecs.get, q, 5), [])
        bad_score = [rows[0], (rows[1][0], rows[1][1] + 1e-6)] + rows[2:]
        unknown = rows[:4] + [(999, rows[4][1])]
        unsorted = [rows[1], rows[0]] + rows[2:]
        for bad in (bad_score, unknown, unsorted, rows + rows[:1], []):
            self.assertTrue(oracle.check_read(bad, vecs.get, q, 5), bad)


class TracingTest(unittest.TestCase):
    def test_self_time_never_negative(self) -> None:
        r = random.Random(5)
        for _ in range(200):
            spans = []
            for sid in range(1, 30):
                parent = r.choice([None] + [s.sid for s in spans]) if spans else None
                start = r.uniform(0, 10)
                s = tracing.Span(sid, parent, "x", f"n{sid % 4}", start)
                s.end = start + r.uniform(0, 3)
                spans.append(s)
            st = tracing.self_times(spans)
            for s in spans:
                self.assertGreaterEqual(st[s.sid], 0.0)
                self.assertLessEqual(st[s.sid], s.end - s.start + 1e-12)

    def test_self_time_subtracts_child_union(self) -> None:
        p = tracing.Span(1, None, "r", "p", 0.0)
        p.end = 10.0
        kids = [(2, 1.0, 4.0), (3, 3.0, 5.0), (4, 8.0, 12.0)]
        spans = [p]
        for sid, a, b in kids:
            s = tracing.Span(sid, 1, "r", "c", a)
            s.end = b
            spans.append(s)
        self.assertAlmostEqual(tracing.self_times(spans)[1], 10.0 - 4.0 - 2.0)

    def test_threads_and_instrumentation(self) -> None:
        mod = types.SimpleNamespace(inner=lambda x: x + 1)
        mod.outer = lambda x: mod.inner(x) * 2
        orig_inner, orig_outer = mod.inner, mod.outer
        tr = tracing.Tracer()
        inst = tracing.Instrumentation(tr, [(mod, "inner", "m.inner"), (mod, "outer", "m.outer")])

        def work(c: int) -> None:
            for n in range(50):
                with tr.span("op", rid=f"op:{c}:{n}"):
                    self.assertEqual(mod.outer(n), (n + 1) * 2)

        threads = [threading.Thread(target=work, args=(c,)) for c in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            self.assertFalse(t.is_alive())
        inst.restore()
        self.assertIs(mod.inner, orig_inner)
        self.assertIs(mod.outer, orig_outer)
        by_id = {s.sid: s for s in tr.spans}
        inner = [s for s in tr.spans if s.name == "m.inner"]
        self.assertEqual(len(inner), 200)
        for s in inner:
            parent = by_id[s.parent]
            self.assertEqual(parent.name, "m.outer")
            self.assertEqual(by_id[parent.parent].rid, s.rid)
        self.assertTrue(all(v >= 0 for v in tracing.self_times(tr.spans).values()))


if __name__ == "__main__":
    unittest.main()
