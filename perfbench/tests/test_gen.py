"""Seeded inputs: the same seed gives byte-identical plans and trade
batches, another seed gives different ones.

    python3 -m unittest discover -s perfbench/tests
"""
import io
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def batch_bytes(seed, k):
    buf = io.BytesIO()
    pq.write_table(gen.trade_batch(seed, k), buf)
    return buf.getvalue()


def tree_bytes(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class SeededInputs(unittest.TestCase):
    def test_request_list_repeats_for_a_seed(self):
        self.assertEqual(gen.tsdb_plan(7), gen.tsdb_plan(7))
        self.assertNotEqual(gen.tsdb_plan(7), gen.tsdb_plan(8))

    def test_trade_batches_repeat_for_a_seed(self):
        self.assertEqual(batch_bytes(7, 3), batch_bytes(7, 3))
        self.assertNotEqual(batch_bytes(7, 3), batch_bytes(8, 3))

    def test_plan_files_repeat_for_a_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.write_plan(os.path.join(d, name), "tsdb_serve", seed)
            a, b, c = (tree_bytes(os.path.join(d, n)) for n in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)

    def test_registry_seed_only_permutes_groups(self):
        groups = [[(f"p{i}", "read"), (f"c{i}", "write")] for i in range(8)]
        order = gen.registry_order(3, groups)
        self.assertEqual(order, gen.registry_order(3, groups))
        self.assertNotEqual(order, gen.registry_order(4, groups))
        self.assertEqual(sorted(order), sorted(q for g in groups for q in g))
        for i in range(8):  # a memo's producer still runs before its consumer
            self.assertLess(order.index((f"p{i}", "read")), order.index((f"c{i}", "write")))

    def test_request_mix(self):
        rounds = gen.tsdb_plan(11).split("\n\n")
        self.assertEqual(len(rounds), 40)
        for r in rounds:  # every round holds one read of each kind and its writes
            lines = r.strip().split("\n")
            kinds = sorted((x.split("\t")[1], x.split("\t")[4]) for x in lines
                           if x.startswith("read"))
            self.assertEqual(kinds, sorted(gen.ROUND_READS))
            self.assertEqual(sum(x.startswith("write") for x in lines), gen.ROUND_WRITES)
        writes = [x for x in gen.tsdb_plan(11).splitlines() if x.startswith("write")]
        # writes ingest batches 0, 1, 2, ... in order
        self.assertEqual([int(x.split("\t")[1]) for x in writes], list(range(len(writes))))

    def test_trade_batches_follow_each_other(self):
        a, b = gen.trade_batch(1, 0), gen.trade_batch(1, 1)
        self.assertLess(max(a.column("ts").to_pylist()), min(b.column("ts").to_pylist()))
        self.assertEqual(set(a.column("event_type").to_pylist()), set(gen.SERIES))


if __name__ == "__main__":
    unittest.main()
