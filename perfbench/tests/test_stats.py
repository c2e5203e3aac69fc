"""Tests of the benchmark's own pure logic.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import inputs, layers, metrics, reference, stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_median_and_p90_with_count(self):
        xs = list(range(1, 11))  # 1..10
        s = stats.summary(xs)
        self.assertEqual(s["n"], 10)
        self.assertEqual(s["p50"], 5.5)
        self.assertAlmostEqual(s["p90"], 9.1)

    def test_single_sample(self):
        self.assertEqual(stats.summary([7.0]), {"p50": 7.0, "p90": 7.0, "n": 1})

    def test_percentile_ends(self):
        xs = [3.0, 1.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 3.0)
        self.assertEqual(stats.percentile(xs, 50), 2.0)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SpanTimes(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        # children overlap each other and one sticks out of the parent
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 5), (9, 12)]), 5)

    def test_self_time_without_children(self):
        self.assertEqual(stats.self_time((2, 7), []), 5)

    def test_idle_time(self):
        self.assertEqual(stats.idle_time((0, 10), [(0, 2), (1, 3), (8, 20)]), 5)

    def test_nested_spans_from_trace(self):
        trace = {
            "spans": [
                {"id": 0, "parent": -1, "run": 1, "name": "root",
                 "start_ms": 0, "end_ms": 1000, "notes": {}},
                {"id": 1, "parent": 0, "run": 1, "name": "a",
                 "start_ms": 100, "end_ms": 400, "notes": {"rows_out": 5}},
                {"id": 2, "parent": 1, "run": 1, "name": "a.inner",
                 "start_ms": 200, "end_ms": 300, "notes": {}},
            ],
            # [job, span, start, end]
            "jobs": [[0, 1, 110, 390], [1, 2, 210, 290]],
            # [job, stage, launch, finish, shuffle bytes, records, spill, failed]
            "tasks": [[0, 0, 120, 180, 10, 1, 0, 0],
                      [0, 0, 120, 200, 10, 1, 0, 0],
                      [1, 1, 220, 280, 5, 2, 0, 1]],
        }
        got = {(o["name"], o["run"]): o for o in layers.occurrences(trace)}
        root = got[("root", 1)]
        self.assertEqual(root["wall_s"], 1.0)
        self.assertAlmostEqual(root["self_s"], 0.7)
        self.assertEqual(root["jobs"], 2)  # inclusive of descendants
        a = got[("a", 1)]
        self.assertAlmostEqual(a["self_s"], 0.2)
        self.assertAlmostEqual(a["task_s"], 0.2)
        self.assertAlmostEqual(a["idle_s"], 0.3 - 0.14)
        self.assertEqual(a["shuffle_write_bytes"], 25)
        self.assertEqual(a["tasks_failed"], 1)
        self.assertEqual(a["rows_out"], 5)
        self.assertAlmostEqual(a["skew"], 80 / 70)


class Quality(unittest.TestCase):
    def test_precision_recall(self):
        p, r = stats.precision_recall({1, 2, 3, 4}, {2, 3, 4, 5, 6})
        self.assertEqual(p, 0.75)
        self.assertEqual(r, 0.6)

    def test_precision_recall_empty_sides(self):
        self.assertEqual(stats.precision_recall(set(), set()), (1.0, 1.0))
        self.assertEqual(stats.precision_recall({1}, set()), (0.0, 1.0))

    def test_scaling_eff(self):
        # 4 threads do the work in 10 s, one thread in 30 s
        self.assertEqual(stats.scaling_eff(10.0, 30.0, 4), 0.75)
        self.assertEqual(stats.scaling_eff(10.0, 40.0, 4), 1.0)


class Catalogue(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json is not next to perfbench/")
        import json
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)


class References(unittest.TestCase):
    def test_reconcile_keeps_best_confidence_then_best_predicate(self):
        def row(p, c, s="a:1", o="b:1"):
            return (s, "", p, o, "", "semapv:LexicalMatching", c)
        rows = [row("skos:exactMatch", 0.5), row("skos:exactMatch", 0.9),
                row("skos:closeMatch", 0.9),   # ties exactMatch: rank loses
                row("skos:broadMatch", 0.7),   # own confidence: kept
                row("skos:closeMatch", 0.4, o="b:2")]
        self.assertEqual(set(reference.reconcile(rows)), {
            row("skos:exactMatch", 0.9), row("skos:broadMatch", 0.7),
            row("skos:closeMatch", 0.4, o="b:2")})

    def test_link_reference(self):
        dictionary = [["kb:C1", "Alpha Beta 7", "beta alpha 7"],
                      ["kb:C2", "gamma delta 3", "delta gamma 3"]]
        got = reference.link_reference(["the alpha beta 7 near",
                                        "a beta alpha 7 x", "alpha betx 7"],
                                       dictionary)
        self.assertIn(("alpha beta 7", "skos:exactMatch", "kb:C1"), got)
        self.assertIn(("beta alpha 7", "skos:closeMatch", "kb:C1"), got)
        # 7 shared trigrams of 11 in all: 0.64 reaches 0.55
        self.assertIn(("alpha betx", "skos:closeMatch", "kb:C1"), got)
        # 7 of 13: 0.54 does not
        self.assertNotIn(("alpha betx 7", "skos:closeMatch", "kb:C1"), got)
        self.assertFalse(any(c == "kb:C2" for _, _, c in got))

    def test_mentions_are_spans_of_three_characters_or_more(self):
        self.assertEqual(reference.mentions("An ox, the ox!"),
                         {"an ox", "an ox the", "ox the", "ox the ox",
                          "the", "the ox"})


class NearDuplicates(unittest.TestCase):
    def test_shingles_lowercase_and_short_texts(self):
        self.assertEqual(reference.shingles("A b  C d", 3), {"a b c", "b c d"})
        self.assertEqual(reference.shingles("one Two", 3), {"one two"})
        self.assertEqual(reference.shingles("  ", 3), set())

    def test_near_dup_pairs_are_exact_jaccard(self):
        texts = {1: "a b c d e f", 2: "a b c d e g",   # 3 of 5 shared: 0.6
                 3: "a b c x y z",                     # 1 of 7 with 1: no
                 4: "A B C D E F"}                     # equal to 1 in lower case
        self.assertEqual(reference.near_dup_pairs(texts, 3, 0.5),
                         {(1, 2), (1, 4), (2, 4)})
        self.assertEqual(reference.near_dup_pairs(texts, 3, 0.7), {(1, 4)})

    def test_components_label_with_the_minimum(self):
        self.assertEqual(reference.components([(5, 3), (3, 9), (7, 8)]),
                         {3: 3, 5: 3, 9: 3, 7: 7, 8: 7})

    def test_contaminated(self):
        texts = {1: "x a b c y", 2: "a b x c"}
        self.assertEqual(reference.contaminated(texts, ["q a b c"], 3), {1})

    def test_planted_corpus_is_seeded(self):
        import tempfile
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            e1 = inputs.documents(d1, 5, n_base=160)
            e2 = inputs.documents(d2, 5, n_base=160)
            with open(os.path.join(d1, "docs.jsonl")) as f1, \
                    open(os.path.join(d2, "docs.jsonl")) as f2:
                self.assertEqual(f1.read(), f2.read())
        self.assertEqual(e1, e2)
        got = {d for _, d in e1["decisions"]}
        self.assertEqual(got, {"kept", "exact_dup", "quality", "repetition",
                               "contaminated", "near_dup"})


if __name__ == "__main__":
    unittest.main()
