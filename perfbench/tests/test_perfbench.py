"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The input-generation test of the log fixture needs the harness built
(any earlier benchmark run builds it) and is skipped without it.
"""

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree_digest(path):
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.startswith("."):
                continue
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeedTest(unittest.TestCase):
    def test_graph_tables_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            oracle.write_graph_tables(a, 1, 0.0005)
            oracle.write_graph_tables(b, 1, 0.0005)
            oracle.write_graph_tables(c, 2, 0.0005)
            con = duckdb.connect()
            q = "SELECT count(*), sum(hash(t)) FROM read_parquet('{}/{}.parquet') t"
            for table in ("lineitem", "events"):
                fa, fb, fc = (con.execute(q.format(d, table)).fetchone() for d in (a, b, c))
                self.assertEqual(fa, fb, table)
                self.assertNotEqual(fa, fc, table)

    @unittest.skipUnless(os.path.exists(os.path.join(run.BUILD, "classpath.txt")),
                         "harness not built")
    def test_log_fixture_follows_the_seed(self):
        with open(os.path.join(run.BUILD, "classpath.txt")) as f:
            cp = f.read().strip()
        with tempfile.TemporaryDirectory() as t:
            def gen(seed, name):
                inputs = os.path.join(t, name)
                subprocess.run(
                    ["java", "-cp", cp, "perfbench.Main", "gen", "--workloads",
                     "replay_day,stream_replay", "--seed", str(seed), "--inputs", inputs,
                     "--warm", os.path.join(t, "warm")],
                    check=True, capture_output=True, timeout=120)
                return (tree_digest(os.path.join(inputs, "day")),
                        tree_digest(os.path.join(inputs, "stream")))
            a, b, c = gen(1, "a"), gen(1, "b"), gen(2, "c")
            self.assertEqual(a, b)
            self.assertNotEqual(a[0], c[0])
            self.assertNotEqual(a[1], c[1])


class FingerprintTest(unittest.TestCase):
    ORACLE = ("SELECT * FROM (VALUES ('1700000000000', 'BBO', 'A1', 0.45, 10.0), "
              "('1700000000001', 'TRADE', 'A2', 0.5, 3.0), "
              "('1700000000002', 'BBO', 'A1', 0.46, 0.0)) t(timestamp, kind, asset, price, size)")

    def check(self, rows_sql):
        with tempfile.TemporaryDirectory() as t:
            out = os.path.join(t, "out")
            os.makedirs(out)
            con = duckdb.connect()
            con.execute(f"COPY ({rows_sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
            chk = {"name": "t/q", "path": out, "oracle": self.ORACLE,
                   "columns": ["timestamp", "kind", "asset", "price", "size"]}
            return oracle.check_outputs([chk], [], os.path.join(t, "cache"))["t/q"]["ok"]

    def test_same_rows_in_any_order_match(self):
        self.assertTrue(self.check(self.ORACLE))
        self.assertTrue(self.check(f"SELECT * FROM ({self.ORACLE}) ORDER BY kind DESC, price DESC"))

    def test_a_corrupted_value_is_caught(self):
        self.assertFalse(self.check(
            f"SELECT timestamp, kind, asset, CASE WHEN price = 0.5 THEN 0.51 ELSE price END "
            f"AS price, size FROM ({self.ORACLE})"))

    def test_a_lost_or_repeated_row_is_caught(self):
        self.assertFalse(self.check(f"SELECT * FROM ({self.ORACLE}) WHERE kind = 'BBO'"))
        self.assertFalse(self.check(
            f"SELECT * FROM ({self.ORACLE}) UNION ALL SELECT * FROM ({self.ORACLE}) LIMIT 4"))

    def test_rounding_noise_below_a_micro_unit_is_tolerated(self):
        self.assertTrue(self.check(
            f"SELECT timestamp, kind, asset, price + 1e-12 AS price, size FROM ({self.ORACLE})"))


class PercentileTest(unittest.TestCase):
    def test_median_needs_one_sample(self):
        self.assertEqual(stats.percentile([3.0], 0.5), 3.0)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_p99_needs_a_thousand(self):
        self.assertIsNone(stats.percentile(list(range(999)), 0.99))
        self.assertEqual(stats.percentile(list(range(1, 1001)), 0.99), 990)


class TelescopeTest(unittest.TestCase):
    def test_clean_prefixes_telescope_to_the_last(self):
        prefixes = [("decode", [1.0, 1.02], 0.9), ("explode", [1.5, 1.52], 1.4),
                    ("fold", [2.5, 2.52], 2.3)]
        rows = stats.layer_table(prefixes, cores=4)
        self.assertEqual([r["source"] for r in rows], ["prefix"] * 3)
        self.assertAlmostEqual(sum(r["s"] for r in rows), stats.median([2.5, 2.52]))
        self.assertAlmostEqual(rows[1]["s"], 0.5)

    def test_a_difference_inside_noise_falls_back_to_stage_time(self):
        prefixes = [("order", [2.0, 2.4], 6.0), ("sink", [2.25, 2.35], 7.0)]
        rows = stats.layer_table(prefixes, cores=4)
        self.assertEqual(rows[1]["source"], "stage")
        # one more task-second, run at the sink prefix's 7.0 / 2.3 parallelism
        self.assertAlmostEqual(rows[1]["s"], (7.0 - 6.0) / (7.0 / 2.3))

    def test_stage_time_parallelism_is_capped_at_the_cores(self):
        prefixes = [("a", [1.0, 1.4], 3.0), ("b", [1.1, 1.3], 12.0)]
        rows = stats.layer_table(prefixes, cores=4)
        self.assertEqual(rows[1]["source"], "stage")
        self.assertAlmostEqual(rows[1]["s"], (12.0 - 3.0) / 4)

    def test_a_negative_difference_is_never_reported(self):
        prefixes = [("a", [2.0, 2.0], 3.0), ("b", [1.9, 1.9], 2.5)]
        rows = stats.layer_table(prefixes, cores=2)
        self.assertEqual(rows[1], {"layer": "b", "s": 0.0, "source": "stage"})


class SingleThreadTest(unittest.TestCase):
    def test_the_fixed_cost_is_not_scaled(self):
        # 2 s fixed plus 10 us a frame, measured at 5 k and 100 k frames
        full = stats.extrapolate((5_000, 2.05), (100_000, 3.0), 3_600_000)
        self.assertAlmostEqual(full, 2.0 + 36.0)


class LoopLatencyTest(unittest.TestCase):
    def passes(self, walls):
        return {"workload": "graph_loops", "setup_s": 1.0, "peak_rss_mb": 1.0,
                "passes": [{"wall_s": sum(w.values()),
                            "ops": [{"name": n, "wall_s": s} for n, s in w.items()]}
                           for w in walls]}

    def test_every_loop_weighs_the_same(self):
        res = self.passes([{"a": 1.0, "b": 4.0, "c": 16.0}] * 3)
        m, per_loop = run.end_to_end(res)
        self.assertEqual(sorted(per_loop), [1.0, 4.0, 16.0])
        self.assertAlmostEqual(m["op_p50_ms"], 4000.0)
        # halving the fastest loop moves it, as it would the slowest
        fast = run.end_to_end(self.passes([{"a": 0.5, "b": 4.0, "c": 16.0}] * 3))[0]
        slow = run.end_to_end(self.passes([{"a": 1.0, "b": 4.0, "c": 8.0}] * 3))[0]
        self.assertAlmostEqual(fast["op_p50_ms"], slow["op_p50_ms"])
        self.assertLess(fast["op_p50_ms"], m["op_p50_ms"])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
