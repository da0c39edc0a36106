"""Generator determinism: the same seed gives byte-identical inputs, another
seed gives different rows, and generation touches nothing outside its
output directory.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import builtins
import hashlib
import os
import socket
import tempfile
import unittest
from unittest import mock

import pyarrow.parquet as pq

import gen

# pyarrow imports pandas lazily and pandas reads the system time-zone files
# on import; import it up front so the spy below sees only the generator
import pandas  # noqa: E402,F401


def digest(root):
    """sha256 of every file under root, by relative path."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed):
        tmp = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(tmp))
        out = os.path.join(tmp, "in")
        opened = []
        real_open = builtins.open

        def spy(path, *a, **kw):
            opened.append(os.path.abspath(path))
            return real_open(path, *a, **kw)

        def no_network(*a, **kw):
            raise AssertionError("generator opened a socket")

        with mock.patch("builtins.open", spy), \
                mock.patch.object(socket, "socket", no_network):
            gen.generate(workload, seed, out)
        outside = [p for p in opened if not p.startswith(out + os.sep)]
        self.assertEqual(outside, [], "generator opened files outside its output")
        return out

    def test_same_seed_gives_identical_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a = digest(self.generate(w, 7))
                b = digest(self.generate(w, 7))
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_gives_other_rows(self):
        for w in ("el_csv_bulk", "curate_corpus"):
            with self.subTest(workload=w):
                a = digest(self.generate(w, 7))
                b = digest(self.generate(w, 8))
                self.assertEqual(a.keys(), b.keys())
                data = [k for k in a if not k.endswith(".json")]
                self.assertTrue(all(a[k] != b[k] for k in data))

    def test_other_seed_gives_other_delta_rows(self):
        a, b = self.generate("el_repl_incremental", 7), \
            self.generate("el_repl_incremental", 8)
        for t, key in (("orders", "o_orderkey"), ("customer", "c_custkey")):
            for snap in ("snap01", "snap03"):
                rel = os.path.join(snap, f"{t}.parquet", "part-00001.parquet")
                ka = set(pq.read_table(os.path.join(a, rel)).column(key).to_pylist())
                kb = set(pq.read_table(os.path.join(b, rel)).column(key).to_pylist())
                self.assertTrue(ka and kb)
                self.assertNotEqual(ka, kb)

    def test_incremental_snapshots_change_a_few_percent(self):
        out = self.generate("el_repl_incremental", 7)
        import json
        with open(os.path.join(out, "spec.json")) as fh:
            spec = json.load(fh)
        s0, s1 = spec["snapshots"][0], spec["snapshots"][1]
        self.assertEqual(s0["delta_rows"], 0)
        total = sum(s0["rows"][t] for t in gen.INCREMENTAL)
        self.assertLess(0.01 * total, s1["delta_rows"])
        self.assertLess(s1["delta_rows"], 0.03 * total)
        # updated rows replace old versions; new rows add to the table
        for t in ("orders", "lineitem", "customer"):
            self.assertGreater(s1["rows"][t], s0["rows"][t])


if __name__ == "__main__":
    unittest.main()
