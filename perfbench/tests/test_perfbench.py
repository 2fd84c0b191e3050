"""Unit tests of the benchmark's helpers and of run.py's reduction.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(benchlib.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(benchlib.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_median_is_robust_to_one_stalled_sample(self):
        self.assertEqual(benchlib.median([1.0, 1.1, 0.9, 60.0, 1.0]), 1.0)

    def test_empty_sample_is_rejected(self):
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_quartile_spread_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, q2, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(benchlib.quartile_spread(values), (q3 - q1) / q2)


class CallSiteLayerTest(unittest.TestCase):
    def test_engine_files_map_to_their_layer(self):
        cases = {
            "collect at CrawlRound.scala:197": "crawl.CrawlRound",
            "localCheckpoint at Crawler.scala:37": "crawl.Crawler",
            "collect at Seen.scala:116": "crawl.Seen",
            "collect at Frontier.scala:112": "crawl.Frontier",
            "saveAsTable at SnapshotTable.scala:90": "store.SnapshotTable",
            "parquet at SnapshotTable.scala:93": "store.SnapshotTable",
            "count at DurableCrawler.scala:411": "store.DurableCrawler",
        }
        for site, layer in cases.items():
            self.assertEqual(benchlib.layer_of(site), layer, site)

    def test_other_sites_are_other(self):
        for site in ["collect at Crawls.scala:140",
                     "save at Queries.scala:74",
                     "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
                     "", None,
                     "collect at CrawlRoundX.scala:1"]:
            self.assertEqual(benchlib.layer_of(site), "other", site)


class VmHwmTest(unittest.TestCase):
    def test_parses_kib_to_mib(self):
        self.assertEqual(benchlib.parse_vm_hwm_mb("VmHWM:\t 2097152 kB"), 2048.0)
        self.assertAlmostEqual(benchlib.parse_vm_hwm_mb("VmHWM:     1536 kB\n"), 1.5)

    def test_rejects_other_lines(self):
        for line in ["VmRSS:  1024 kB", "", None, "VmHWM: lots"]:
            with self.assertRaises(ValueError):
                benchlib.parse_vm_hwm_mb(line)


class CoveredTimeTest(unittest.TestCase):
    def test_union_of_overlapping_jobs_within_the_round(self):
        jobs = [(0, 10), (5, 20), (30, 40), (38, 45), (90, 120)]
        # [0,20] + [30,45] + [90,100] clipped to the round [0,100]
        self.assertEqual(benchlib.covered_ms(jobs, 0, 100), 20 + 15 + 10)

    def test_nothing_running_is_all_idle(self):
        self.assertEqual(benchlib.covered_ms([], 0, 100), 0)
        self.assertEqual(benchlib.covered_ms([(200, 300)], 0, 100), 0)


class RunReductionTest(unittest.TestCase):
    """run.py's reduction of a measuring process's observations, on small
    hand-made observations."""

    @classmethod
    def setUpClass(cls):
        import run
        cls.r = run
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def crawl_raw(self):
        lin0 = [100, 100, 100, 400, 390, 10, 0, 0]
        lin1 = [200, 200, 200, 800, 770, 30, 5, 0]
        return {
            "seed": 7, "session_s": 1.0, "setup_s": 2.0, "gc_s": 0.5,
            "vm_hwm": "VmHWM:  1048576 kB",
            "heap_live_peak_bytes": 300 * 2**20, "nonheap_peak_bytes": 100 * 2**20,
            "params": {"expected_keys_per_shard": 128},
            "rounds": [
                {"round": 0, "start_ms": 0, "end_ms": 1000, "wall_s": 1.0, "cpu_s": 4.0, "lineage": lin0,
                 "error": "", "bloom_keys_per_shard": 128},
                {"round": 1, "start_ms": 2000, "end_ms": 4000, "wall_s": 2.0, "cpu_s": 7.0, "lineage": lin1,
                 "error": "", "bloom_keys_per_shard": 256},
            ],
            "final": {"seen": [300, 6, 110], "seen_exact": [300, 6, 110], "seen_size": 300,
                      "store_bytes": 15000},
            "spans": [{"name": "crawl.round", "start_ms": 2000, "end_ms": 4000, "parent": -1}],
            "jobs": [
                {"start_ms": 2100, "end_ms": 2600, "call_site": "collect at CrawlRound.scala:1",
                 "props": {}, "tasks": 4, "cpu_ns": 2e9, "gc_ms": 10, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "output_bytes": 0, "wait_ms": 40},
                {"start_ms": 2500, "end_ms": 3000, "call_site": "localCheckpoint at Crawler.scala:2",
                 "props": {}, "tasks": 4, "cpu_ns": 1e9, "gc_ms": 0, "shuffle_write_bytes": 2**20,
                 "spill_bytes": 0, "output_bytes": 0, "wait_ms": 0},
            ],
        }

    def test_crawl_checks_pass_and_fail(self):
        raw = self.crawl_raw()
        self.assertEqual(self.r.check_crawl(raw, {})[:2], (2, 0))
        expected = {"7": {"rounds": [r["lineage"] for r in raw["rounds"]],
                          "seen": [[100, 5, 50], [300, 6, 110]]}}
        self.assertEqual(self.r.check_crawl(self.crawl_raw(), expected)[:2], (2, 0))
        expected["7"]["rounds"][1] = [200, 200, 200, 800, 771, 29, 5, 0]
        self.assertEqual(self.r.check_crawl(self.crawl_raw(), expected)[:2], (2, 1))
        expected["7"]["rounds"][1] = raw["rounds"][1]["lineage"]
        expected["7"]["seen"][1] = [300, 7, 110]
        self.assertEqual(self.r.check_crawl(self.crawl_raw(), expected)[:2], (2, 1))
        raw = self.crawl_raw()
        raw["final"]["seen_exact"] = [299, 6, 110]
        self.assertEqual(self.r.check_crawl(raw, {})[:2], (2, 1))

    def test_crawl_metrics(self):
        raw = self.crawl_raw()
        attempted, failed, _ = self.r.check_crawl(raw, {})
        e2e = self.r.end_to_end(raw, attempted, failed)
        self.assertEqual(e2e["setup_s"], (3.0, "s"))
        self.assertEqual(e2e["throughput_per_s"], (100.0, "1/s"))
        self.assertEqual(e2e["step_s"], (2.0, "s"))
        self.assertEqual(e2e["mem_peak_mb"], (400.0, "MB"))
        m = self.r.per_layer(raw, untraced_step=1.6)
        self.assertEqual(m["crawl.round.wall_s"], 2.0)
        self.assertEqual(m["store.DurableCrawler.runRounds_s"], 0.0)
        self.assertEqual(m["jvm.rss_peak_mb"], 1024.0)
        self.assertEqual(m["jvm.heap_live_peak_mb"], 300.0)
        self.assertEqual(m["jvm.cores_busy"], 3.5)
        self.assertEqual(m["store.bytes_per_page"], 50.0)
        self.assertEqual(m["driver.jobs_per_round"], 2)
        self.assertAlmostEqual(m["driver.idle_s_per_round"], 1.1)
        self.assertEqual(m["crawl.CrawlRound.executor_cpu_s"], 2.0)
        self.assertEqual(m["crawl.Crawler.shuffle_write_mb"], 1.0)
        self.assertEqual(m["filters.bloom_rebuilds"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_pct"], 25.0)

    def test_names_and_units_match_benchmark_json(self):
        raw = self.crawl_raw()
        self.r.check_crawl(raw, {})
        layer = self.r.per_layer(raw, untraced_step=0.0)
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(set(layer), set(declared))
        for name, unit in declared.items():
            self.assertEqual(self.r.unit_of(name), unit, name)
        e2e = self.r.end_to_end(raw, 2, 0)
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})

    def query_raw(self):
        def q(name, module, p, wall, rows, digest):
            return {"name": name, "module": module, "pass": p, "wall_s": wall,
                    "cpu_s": 2 * wall, "codegen_compiles": 3, "error": "", "rows": rows, "digest": digest}
        return {
            "seed": 0, "session_s": 1.0, "setup_s": 5.0, "gc_s": 0.1,
            "vm_hwm": "VmHWM: 2048 kB",
            "heap_live_peak_bytes": 2**20, "nonheap_peak_bytes": 2**20,
            "queries": [q("a", "Relational", 0, 3.0, 3, "x"), q("b", "TextOps", 0, 2.0, 5, "y"),
                        q("a", "Relational", 1, 1.0, 3, "x"), q("b", "TextOps", 1, 4.0, 5, "y")],
            "mix_size": 2, "pass_walls": [5.0], "cache_entries": [2, 2],
            "spans": [],
            "jobs": [{"start_ms": 0, "end_ms": 5, "call_site": "save at Queries.scala:1",
                      "props": {"perfbench.query": "b", "perfbench.pass": "1"}, "tasks": 8,
                      "cpu_ns": 5e8, "gc_ms": 0, "shuffle_write_bytes": 2**21,
                      "spill_bytes": 0, "output_bytes": 0, "wait_ms": 0}],
        }

    def test_query_checks_and_metrics(self):
        expected = {"a": [3, "x"], "b": [5, "y"]}
        raw = self.query_raw()
        self.assertEqual(self.r.check_queries(raw, expected)[:2], (4, 0))
        e2e = self.r.end_to_end(raw, 4, 0)
        self.assertEqual(e2e["throughput_per_s"], (0.4, "1/s"))
        # geometric mean of the measured pass's walls, 1.0 and 4.0
        self.assertAlmostEqual(e2e["step_s"][0], 2.0)
        m = self.r.per_layer(raw, untraced_step=1.6)
        self.assertAlmostEqual(m["trace.overhead_pct"], 25.0)
        self.assertEqual(m["queries.TextOps.wall_s"], 4.0)
        self.assertEqual(m["jvm.cores_busy"], 2.0)
        self.assertEqual(m["queries.Relational.first_pass_s"], 3.0)
        self.assertEqual(m["queries.TextOps.tasks"], 8)
        self.assertEqual(m["queries.TextOps.shuffle_mb"], 2.0)
        self.assertEqual(m["queries.SessionCache.entries"], 2)
        self.assertEqual(m["crawl.round.wall_s"], 0.0)
        # a mismatch fails every execution of that query, in every pass
        raw = self.query_raw()
        self.assertEqual(self.r.check_queries(raw, {"a": [3, "x"], "b": [5, "z"]})[:2], (4, 2))
        raw = self.query_raw()
        raw["queries"][3]["error"] = "RuntimeException: boom"
        self.assertEqual(self.r.check_queries(raw, expected)[:2], (4, 1))


if __name__ == "__main__":
    unittest.main()
