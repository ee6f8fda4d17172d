"""Self-tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import lib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_interpolates(self):
        self.assertEqual(lib.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(lib.percentile([1, 2, 3, 4], 0.5), 2.5)

    def test_median_needs_no_tail(self):
        self.assertEqual(lib.percentile([7.0], 0.5), 7.0)

    def test_p90_needs_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            lib.percentile(list(range(99)), 0.9)
        self.assertAlmostEqual(lib.percentile(list(range(100)), 0.9), 89.1)

    def test_p75_needs_forty_samples(self):
        with self.assertRaises(ValueError):
            lib.percentile(list(range(39)), 0.75)
        self.assertAlmostEqual(lib.percentile(list(range(40)), 0.75), 29.25)

    def test_empty_is_refused(self):
        with self.assertRaises(ValueError):
            lib.percentile([], 0.5)


def span(i, parent, start, end, name="s", phase="p"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "phase": phase, "ctx": ""}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [span(1, 0, 0, 100, "root"),
                 span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 90, 120)]
        st = lib.self_times(spans)
        # children cover 10..50 and 90..100 of the root's 0..100
        self.assertEqual(st[1], 50)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[4], 30)

    def test_grandchildren_charge_their_own_parent(self):
        spans = [span(1, 0, 0, 10, "a"), span(2, 1, 0, 6, "b"),
                 span(3, 2, 1, 5, "c")]
        st = lib.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 2, 4))
        self.assertEqual(lib.self_time_by_name(spans),
                         {"a": 4, "b": 2, "c": 4})

    def test_phase_filter(self):
        spans = [span(1, 0, 0, 10, "a", "cold"), span(2, 0, 0, 3, "a", "warm")]
        self.assertEqual(lib.self_time_by_name(spans, "warm"), {"a": 3})


class RequestsTest(unittest.TestCase):
    def gen(self, seed):
        return lib.gateway_requests(seed, 1500, 15000)

    def test_same_seed_same_requests(self):
        self.assertEqual(self.gen(5), self.gen(5))

    def test_other_seed_other_requests(self):
        self.assertNotEqual(self.gen(5)["open"], self.gen(6)["open"])

    def test_schedule_shape(self):
        r = self.gen(5)
        due = [x["due_s"] for x in r["open"]]
        self.assertEqual(due[0], 0.0)
        self.assertEqual(due, sorted(due))
        self.assertEqual([x["kind"] for x in r["cold"]],
                         lib.TEMPLATES + lib.EXTRAS)
        ids = [x["id"] for rs in r.values() for x in rs]
        self.assertEqual(len(ids), len(set(ids)))

    def test_mix_rule(self):
        # each template route once per round, one catalog hit and one
        # unknown query per list, whatever the seed
        for seed in (1, 2):
            kinds = [x["kind"] for x in self.gen(seed)["open"]]
            for k in lib.TEMPLATES:
                self.assertEqual(kinds.count(k), lib.OPEN_ROUNDS)
            for k in lib.EXTRAS:
                self.assertEqual(kinds.count(k), 1)
            self.assertEqual(len(kinds), 5 * lib.OPEN_ROUNDS + 2)

    def test_template_urls_carry_args_and_vars(self):
        rng = lib.np.random.default_rng(1)
        r = lib.make_request(1, "orders_big", rng, 10, 10)
        self.assertTrue(r["url"].startswith(f"/q/{lib.DB}/orders_big/"))
        self.assertIn("?minp=", r["url"])
        self.assertEqual(r["path"], r["url"].split("?")[0])


class StagingTest(unittest.TestCase):
    def test_seed_permutes_rows_only(self):
        import pyarrow.parquet as pq
        src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            lib.stage_inputs(src, a, 1)
            lib.stage_inputs(src, b, 1)
            base = pq.read_table(os.path.join(src, "customer.parquet"))
            one = pq.read_table(os.path.join(a, "customer.parquet"))
            again = pq.read_table(os.path.join(b, "customer.parquet"))
            self.assertTrue(one.equals(again))
            self.assertFalse(one.equals(base))
            self.assertTrue(one.sort_by("c_custkey").equals(base.sort_by("c_custkey")))


class OracleCacheTest(unittest.TestCase):
    def test_key_follows_fixture_bytes(self):
        import duckdb
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as cache:
            one = lib.oracle_answer(con, "SELECT 1 AS x", cache, "fixture-a")
            # a stale answer under the same SQL must not serve another
            # fixture
            for f in os.listdir(cache):
                os.remove(os.path.join(cache, f))
            lib.oracle_answer(con, "SELECT 2 AS x", cache, "fixture-a")
            other = lib.oracle_answer(con, "SELECT 2 AS x", cache, "fixture-b")
            self.assertEqual(one.column("x").to_pylist(), [1])
            self.assertEqual(other.column("x").to_pylist(), [2])
            self.assertEqual(len(os.listdir(cache)), 2)

    def test_fixture_id_reads_bytes(self):
        src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
        with tempfile.TemporaryDirectory() as d:
            lib.stage_inputs(src, d, 3)
            self.assertNotEqual(lib.fixture_id(src), lib.fixture_id(d))
            self.assertEqual(lib.fixture_id(src), lib.fixture_id(src))


class CheckStagesTest(unittest.TestCase):
    def test_every_pass_is_checked(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
        passes = ["cold", "warm-1", "warm-2"]
        outs = {("with_oracle", "cold"): 1, ("with_oracle", "warm-1"): 1,
                ("with_oracle", "warm-2"): 2,
                ("no_oracle", "cold"): 5, ("no_oracle", "warm-1"): 6}
        with tempfile.TemporaryDirectory() as out, \
                tempfile.TemporaryDirectory() as cache:
            for (stage, p), x in outs.items():
                os.makedirs(os.path.join(out, p, stage))
                pq.write_table(pa.table({"x": [x]}),
                               os.path.join(out, p, stage, "part.parquet"))
            bad = lib.check_stages(src, out, {"with_oracle": "SELECT 1 AS x"},
                                   ["with_oracle", "no_oracle"], passes, cache)
        self.assertEqual(sorted(bad), [("no_oracle", "warm-1"),
                                       ("no_oracle", "warm-2"),
                                       ("with_oracle", "warm-2")])
        self.assertEqual(bad[("no_oracle", "warm-2")], "no output")
        self.assertIn("differs from cold", bad[("no_oracle", "warm-1")])


class CompareTest(unittest.TestCase):
    def test_exact_floats_and_shapes(self):
        import pyarrow as pa
        a = pa.table({"x": [1.0, 2.0], "k": [1, 2]})
        self.assertIsNone(lib.compare_tables(a, pa.table({"k": [1, 2], "x": [1.0, 2.0]})))
        self.assertIn("value", lib.compare_tables(
            a, pa.table({"x": [1.0, 2.0000001], "k": [1, 2]})))
        self.assertIn("shape", lib.compare_tables(a, pa.table({"x": [1.0]})))
        self.assertIn("type", lib.compare_tables(
            a, pa.table({"x": ["1", "2"], "k": [1, 2]})))


if __name__ == "__main__":
    unittest.main()
