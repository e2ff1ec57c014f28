"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import tempfile
import unittest

import gen_articles
import gen_tables
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
# the contract's name rule: letters, digits, `_`, `.` and `-`, at most 64,
# starting with a letter or a digit
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _stat(user, system, idle, steal):
    # cpu user nice system idle iowait irq softirq steal guest guest_nice
    return f"cpu  {user} 0 {system} {idle} 0 0 0 {steal} 0 0\ncpu0 1 2 3 4\n"


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.p90([1.0] * 99))
        self.assertEqual(stats.p90([float(i) for i in range(100)]), 89.0)
        self.assertIsNone(stats.p90(list(range(20))))
        self.assertIsNone(stats.p90([]))

    def test_p90_counts_samples_not_distinct_values(self):
        s = [1.0] * 90 + [2.0] * 10
        self.assertEqual(stats.p90(s), 1.0)


class StealShare(unittest.TestCase):
    def test_steal_is_a_share_of_total_capacity(self):
        # an idle 4-cpu guest over ~1 s: 11 stolen ticks, 5 busy, 384 idle.
        # Against wanted cycles that reads 11/16 = 69%; against the
        # machine's capacity it is 11/400.
        a = stats.cpu_ticks(_stat(1000, 500, 10000, 100))
        b = stats.cpu_ticks(_stat(1003, 502, 10384, 111))
        self.assertAlmostEqual(stats.steal_share(a, b), 11 / 400)

    def test_no_time_passed(self):
        a = stats.cpu_ticks(_stat(1, 1, 1, 1))
        self.assertEqual(stats.steal_share(a, a), 0.0)


class SelfTime(unittest.TestCase):
    SPANS = [
        {"id": 0, "name": "pass", "layer": "", "parent": -1, "start_ns": 0,
         "end_ns": 10_000_000_000},
        {"id": 1, "name": "etl.write_csv", "layer": "etl.write_csv", "parent": 0,
         "start_ns": 1_000_000_000, "end_ns": 5_000_000_000},
        {"id": 2, "name": "etl.write_csv/a", "layer": "etl.write_csv", "parent": 1,
         "start_ns": 1_500_000_000, "end_ns": 3_000_000_000},
        {"id": 3, "name": "etl.write_csv/b", "layer": "etl.write_csv", "parent": 1,
         "start_ns": 3_000_000_000, "end_ns": 4_500_000_000},
        {"id": 4, "name": "q.x", "layer": "module.M", "parent": 0,
         "start_ns": 6_000_000_000, "end_ns": 9_000_000_000},
    ]

    def test_self_time_subtracts_direct_children(self):
        self_s = stats.self_times(self.SPANS)
        self.assertAlmostEqual(self_s[0], 3.0)   # 10 - 4 - 3
        self.assertAlmostEqual(self_s[1], 1.0)   # 4 - 1.5 - 1.5
        self.assertAlmostEqual(self_s[2], 1.5)

    def test_layers_and_remainder_add_up_to_the_pass(self):
        result = {"spans": self.SPANS,
                  "passes": [{"traced": True, "wall_s": 10.0, "layers": {},
                              "etl_out": None}]}
        vals = run.layer_values(result, 0)[0]
        self.assertAlmostEqual(vals["etl.write_csv_s"], 4.0)
        self.assertAlmostEqual(vals["module.M_s"], 3.0)
        self.assertAlmostEqual(vals["q.x_s"], 3.0)
        self.assertAlmostEqual(vals["trace.remainder_s"], 3.0)
        self.assertAlmostEqual(
            vals["etl.write_csv_s"] + vals["module.M_s"] + vals["trace.remainder_s"],
            vals["trace.pass_s"])


class Generators(unittest.TestCase):
    def _bytes(self, write, seed, *args):
        with tempfile.TemporaryDirectory() as d:
            write(d, seed, *args)
            out = {}
            for root, _, files in os.walk(d):
                for f in files:
                    with open(os.path.join(root, f), "rb") as fh:
                        out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
            return out

    def test_article_corpus_is_a_function_of_the_seed(self):
        a = self._bytes(gen_articles.write, 3, 300)
        self.assertEqual(a, self._bytes(gen_articles.write, 3, 300))
        self.assertNotEqual(a, self._bytes(gen_articles.write, 4, 300))

    def test_tables_are_a_function_of_the_seed(self):
        a = self._bytes(gen_tables.write, 3, 0.001)
        self.assertEqual(a, self._bytes(gen_tables.write, 3, 0.001))
        self.assertNotEqual(a, self._bytes(gen_tables.write, 4, 0.001))

    def test_corpus_covers_the_four_variants_and_the_sentinels(self):
        corpus, expected = gen_articles.generate(5, 600)
        names = set(corpus)
        for tag in ("ScienceDirect_AI.json", "ScienceDirect_AI_upd.json",
                    "IEEE_AI.json", "IEEE_AI_upd.json"):
            self.assertIn(tag, names)
        rows = [a for v in corpus.values() for a in v]
        self.assertTrue(any(a["Date"] == "Date not found" for a in rows))
        self.assertTrue(any(a.get("publisher", {}).get("ISSN") == "N/A" for a in rows))
        self.assertTrue(any(a["citations"] is None for a in rows))
        self.assertTrue(any(a["authors"] == [] for a in rows))
        dois = [a["doi"] for a in rows]
        self.assertLess(len(set(dois)), len(dois))
        self.assertEqual(set(expected), {
            "articles", "publishers", "keywords", "topics", "dates", "authors",
            "author_article_mapping", "keywords_articles_mapping"})
        self.assertEqual(expected["topics"], 6)


class Names(unittest.TestCase):
    def test_metric_and_workload_names(self):
        names = [n for n, _ in run.END_TO_END + run.per_layer()] + run.WORKLOADS
        for n in names:
            self.assertTrue(NAME_RE.match(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer())


if __name__ == "__main__":
    unittest.main()
