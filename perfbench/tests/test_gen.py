"""Generator determinism and statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SIZES = dict(events=20000, docs=1000, vecs=400)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp.name, name)
            gen.generate(d, seed, **SIZES)
            gen.write_stream(os.path.join(d, "stream"), seed, 50, 10, 4)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def files(self, d):
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet")) + \
            sorted(os.path.join("stream", f)
                   for f in os.listdir(os.path.join(d, "stream")))

    def test_same_seed_same_bytes(self):
        a, b = self.dirs["a"], self.dirs["b"]
        self.assertEqual(len(self.files(a)), 3 + len(gen.STREAMS))
        for f in self.files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_other_seed_other_rows(self):
        a, c = self.dirs["a"], self.dirs["c"]
        for t in ("events", "documents", "embeddings"):
            ra = pq.read_table(os.path.join(a, f"{t}.parquet")).to_pylist()
            rc = pq.read_table(os.path.join(c, f"{t}.parquet")).to_pylist()
            self.assertEqual(len(ra), len(rc))
            self.assertNotEqual(ra[:50], rc[:50], t)
        for s in gen.STREAMS:
            with open(os.path.join(a, "stream", f"{s}.csv")) as fa, \
                    open(os.path.join(c, "stream", f"{s}.csv")) as fc:
                self.assertNotEqual(fa.read(), fc.read(), s)

    def test_statistics_match_the_reference(self):
        self.assertEqual(gen.self_check(self.dirs["a"]), [])
        st = gen.stats(self.dirs["a"])
        self.assertEqual(st["vocabulary"], 31)
        self.assertEqual(st["event_types"], 5)
        self.assertEqual(st["labels"], 10)
        self.assertEqual(st["embedding_dim"], 64)
        self.assertEqual(st["distinct_ts_share"], 1.0)

    def test_schema_matches_the_reference_tables(self):
        s = pq.read_schema(os.path.join(self.dirs["a"], "events.parquet"))
        self.assertEqual([(f.name, str(f.type)) for f in s],
                         [("event_id", "int64"), ("ts", "timestamp[us]"),
                          ("user_id", "int64"), ("event_type", "string"),
                          ("value", "double"), ("props", "string")])
        s = pq.read_schema(os.path.join(self.dirs["a"], "embeddings.parquet"))
        self.assertEqual([(f.name, str(f.type)) for f in s],
                         [("vec_id", "int64"), ("embedding", "list<element: float>"),
                          ("label", "int32")])

    def test_streams_are_ordered_for_their_watermarks(self):
        ev = gen.read_stream(os.path.join(self.dirs["a"], "stream"))
        for s in ("orders", "receipts"):  # 0 s watermark: strictly ascending
            ts = ev[s]["ts_ms"]
            self.assertTrue((ts[1:] > ts[:-1]).all(), s)
        for s in ("behav", "pages"):      # sent by due time
            due = ev[s]["due_us"][ev[s]["phase"] == 1]
            self.assertTrue((due[1:] >= due[:-1]).all(), s)


if __name__ == "__main__":
    unittest.main()
