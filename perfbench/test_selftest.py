"""Self-test of the benchmark's own logic; needs no Spark session.

    python3 -m pytest perfbench/test_selftest.py -q
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def _wave(urls: list[str], hosts: list[str] | None = None) -> list[dict]:
    hosts = hosts or [f"h{i}" for i in range(len(urls))]
    return [{"pos": i, "url": u, "host": h, "priority": 0.0, "seq": i}
            for i, (u, h) in enumerate(zip(urls, hosts))]


class QuantileSpread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / statistics.median(vals))

    def test_constant_and_single_values(self):
        self.assertEqual(stats.quartile_spread([3.0] * 10), 0.0)
        self.assertEqual(stats.quartile_spread([3.0]), 0.0)

    def test_known_value(self):
        # exclusive quartiles of 1..9 are 2.5 and 7.5; median 5
        self.assertAlmostEqual(stats.quartile_spread([float(i) for i in range(1, 10)]), 1.0)


class ByteAccounting(unittest.TestCase):
    def test_only_new_or_rewritten_files_count_per_table(self):
        with tempfile.TemporaryDirectory() as root:
            def write(rel: str, n: int) -> None:
                path = os.path.join(root, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as fh:
                    fh.write(b"x" * n)

            write("pending/round=0/part-0.parquet", 100)
            write("bloom/data/v1_shard_0.bin", 64)
            write("manifest.json", 17)
            before = stats.snapshot(root)
            write("pending/round=1/part-0.parquet", 120)
            write("pending/round=1/part-1.parquet", 30)
            write("waves/round=1/part-0.parquet", 50)
            write("bloom/data/v2_shard_0.bin", 64)
            os.utime(os.path.join(root, "manifest.json"), ns=(1, 1))  # rewritten
            after = stats.snapshot(root)
            self.assertEqual(stats.bytes_written(before, after),
                             {"pending": 150, "waves": 50, "bloom": 64, "manifest.json": 17})
            self.assertEqual(stats.bytes_written(after, after), {})


class TreeCpu(unittest.TestCase):
    def test_counts_cpu_of_children_after_they_exit(self):
        burn = ("import time\nt = time.process_time()\n"
                "while time.process_time() - t < 0.3:\n    pass\n")
        before = layers.tree_cpu_s()
        subprocess.run([sys.executable, "-c", burn], check=True)
        self.assertGreaterEqual(layers.tree_cpu_s() - before, 0.25)


class HostProbe(unittest.TestCase):
    def test_scale_is_reference_over_median_sample_to_the_exponent(self):
        probe = layers.HostProbe()
        probe.samples = [2 * layers.PROBE_REF_S, 4 * layers.PROBE_REF_S, 100.0]
        self.assertAlmostEqual(probe.median_s(), 4 * layers.PROBE_REF_S)
        self.assertAlmostEqual(probe.scale(), 0.25 ** layers.PROBE_EXPONENT)

    def test_sample_records_positive_cpu_times(self):
        probe = layers.HostProbe()
        probe.sample(3)
        self.assertEqual(len(probe.samples), 3)
        self.assertTrue(all(t > 0 for t in probe.samples))


class WaveInvariants(unittest.TestCase):
    def setUp(self):
        self.waves = {0: _wave(["a", "b", "c"], ["h1", "h1", "h2"]),
                      1: _wave(["d", "e"], ["h1", "h2"])}
        self.pending = {0: {"a", "b", "c", "x"}, 1: {"d", "e", "x"}}

    def test_clean_waves_pass(self):
        self.assertEqual(checks.wave_violations(self.waves, self.pending, budget=2), [])

    def test_duplicate_url_rejected(self):
        self.waves[1][0]["url"] = "a"
        self.pending[1].add("a")
        bad = checks.wave_violations(self.waves, self.pending, budget=2)
        self.assertTrue(any("already scheduled" in b for b in bad), bad)

    def test_over_budget_host_rejected(self):
        bad = checks.wave_violations(self.waves, self.pending, budget=1)
        self.assertTrue(any("host h1 has 2" in b for b in bad), bad)

    def test_swapped_order_rejected(self):
        w = self.waves[0]
        w[0]["pos"], w[1]["pos"] = w[1]["pos"], w[0]["pos"]
        bad = checks.wave_violations(self.waves, self.pending, budget=2)
        self.assertTrue(any("(priority, seq) order" in b for b in bad), bad)

    def test_url_not_pending_rejected(self):
        self.pending[1].discard("e")
        bad = checks.wave_violations(self.waves, self.pending, budget=2)
        self.assertTrue(any("were not pending" in b for b in bad), bad)


class ReferenceWave0(unittest.TestCase):
    def test_budget_caps_hosts_in_seed_order(self):
        seeds = ["https://a.example/1", "https://a.example/2", "https://a.example/1",
                 "https://b.example/1", "ftp://c.example/x", "https://a.example/3"]
        self.assertEqual(checks.expected_wave0(seeds, limit=10, wave_size=10, budget=2),
                         ["https://a.example/1", "https://a.example/2",
                          "https://b.example/1", "ftp://c.example/x"])
        self.assertEqual(checks.expected_wave0(seeds, limit=10, wave_size=2, budget=2),
                         ["https://a.example/1", "https://a.example/2"])


class Digests(unittest.TestCase):
    def test_order_of_rows_does_not_matter_but_content_does(self):
        w = _wave(["a", "b"])
        self.assertEqual(checks.wave_digest(w), checks.wave_digest(list(reversed(w))))
        self.assertNotEqual(checks.wave_digest(w), checks.wave_digest(_wave(["b", "a"])))

    def test_only_shared_keys_compared(self):
        self.assertEqual(checks.digest_violations({"r0": "x"}, {"r1": "y"}), [])
        self.assertEqual(len(checks.digest_violations({"r0": "x"}, {"r0": "y"})), 1)


class SqlMetricParsing(unittest.TestCase):
    def test_formats(self):
        self.assertAlmostEqual(layers.parse_metric("297 ms"), 0.297)
        self.assertAlmostEqual(layers.parse_metric("1.5 s"), 1.5)
        self.assertAlmostEqual(layers.parse_metric("18.0 KiB"), 18 * 1024)
        self.assertAlmostEqual(layers.parse_metric("1,234"), 1234)
        self.assertAlmostEqual(layers.parse_metric(
            "total (min, med, max (stageId: taskId))\n4.0 s (940 ms, 992 ms, 1.1 s (stage 3.0: task 4))"),
            4.0)


if __name__ == "__main__":
    unittest.main()
