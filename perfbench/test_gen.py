"""Determinism tests for the benchmark's input generators.

    python3 perfbench/test_gen.py

The same seed must give a byte-identical op stream, corpus and table
data; another seed must give another one; and a stream sized for a short
window must be a prefix of one sized for a longer window, because the
checks replay the model over exactly the prefix a run executed.
"""

import hashlib
import pathlib
import shutil
import sys
import tempfile
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

WORKLOADS = ("dml", "dedup")


def digest(workload, seed, seconds=3):
    """Hash of every file the engine would receive for this seed."""
    (HERE / ".runs").mkdir(exist_ok=True)
    d = pathlib.Path(tempfile.mkdtemp(prefix="gen-", dir=HERE / ".runs"))
    try:
        gen.write_inputs(workload, gen.build(workload, seed, seconds), d)
        h = hashlib.sha256()
        for f in sorted(d.iterdir()):
            h.update(f.name.encode())
            h.update(f.read_bytes())
        return h.hexdigest()
    finally:
        shutil.rmtree(d)


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(digest(w, gen.DEFAULT_SEED), digest(w, gen.DEFAULT_SEED))

    def test_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(digest(w, gen.DEFAULT_SEED), digest(w, gen.HELDOUT_SEED))

    def test_short_stream_is_prefix_of_long(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                short = gen.stream_bytes(w, gen.build(w, 5, 2)).splitlines()
                long = gen.stream_bytes(w, gen.build(w, 5, 6)).splitlines()
                self.assertGreater(len(long), len(short))
                self.assertEqual(long[:len(short)], short)

    def test_dml_model_replays_prefix(self):
        st = gen.dml_seed_tables(9)
        ops, m = gen.dml_ops(9, 40, st)
        again, m2 = gen.dml_ops(9, 40, st)
        self.assertEqual(ops, again)
        self.assertEqual(m.snapshot(), m2.snapshot())
        self.assertEqual(gen.dml_ops(9, 17, st)[0], ops[:17])

    def test_expected_answers_cover_every_readback(self):
        ops, _ = gen.dml_ops(gen.DEFAULT_SEED, 200, gen.dml_seed_tables(gen.DEFAULT_SEED))
        reads = [o for o in ops if o["kind"].startswith("read")]
        self.assertTrue(all("expect" in o for o in reads))
        self.assertGreater(len(reads) / len(ops), 0.25)


if __name__ == "__main__":
    unittest.main()
