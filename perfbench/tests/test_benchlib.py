"""Self-tests of the benchmark's own logic (no Spark, no build).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import benchlib  # noqa: E402
import corpus  # noqa: E402
import run  # noqa: E402

SMALL = dict(tokens=20_000, vocab=50_000)


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, ma = corpus.generate(7, **SMALL)
        b, mb = corpus.generate(7, **SMALL)
        self.assertEqual(a, b)
        self.assertEqual(ma, mb)
        c, _ = corpus.generate(8, **SMALL)
        self.assertNotEqual(a, c)

    def test_manifest_matches_a_letter_split(self):
        # an independent tokenizer: maximal runs of Unicode letters
        text, m = corpus.generate(3, **SMALL)
        words = re.findall(r"[^\W\d_]+", text.decode("utf-8"))
        self.assertEqual(len(words), m["tokens"])
        self.assertEqual(len(set(words)), m["distinct"])
        self.assertEqual(len(text), m["bytes"])
        self.assertTrue(any(ch in text.decode("utf-8") for ch in "äöå"))


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(range(19)))
        self.assertEqual(benchlib.tail_percentile(range(20))[0], 50.0)
        self.assertEqual(benchlib.tail_percentile(range(40))[0], 75.0)
        self.assertEqual(benchlib.tail_percentile(range(99))[0], 75.0)
        self.assertEqual(benchlib.tail_percentile(range(100))[0], 90.0)
        self.assertEqual(benchlib.tail_percentile(range(1000))[0], 99.0)

    def test_value_is_nearest_rank(self):
        p, v = benchlib.tail_percentile(list(range(1, 41))[::-1])
        self.assertEqual((p, v), (75.0, 30))
        self.assertEqual(sum(1 for x in range(1, 41) if x > v), 10)


class AccountingTest(unittest.TestCase):
    def test_throwing_and_wrong_ops_both_count(self):
        passes = [
            [{"name": "a", "error": None}, {"name": "b", "error": "boom"},
             {"name": "c", "error": None}],
            [{"name": "a", "error": None}, {"name": "b", "error": None},
             {"name": "c", "error": None}],
        ]
        attempted, failed, names = benchlib.account(passes, {"c"})
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 3)  # b once (threw), c twice (wrong)
        self.assertEqual(names, ["b", "c"])

    def test_clean_run(self):
        passes = [[{"name": "a", "error": None}]]
        self.assertEqual(benchlib.account(passes, set()), (1, 0, []))


class WordcountCheckTest(unittest.TestCase):
    def test_good_and_bad_outputs(self):
        alpha = [(b"a", 2), (b"b", 3), (b"\xc3\xa4", 2)]
        freq = [(b"b", 3), (b"a", 2), (b"\xc3\xa4", 2)]
        m = {"tokens": 7, "distinct": 3}
        self.assertEqual(benchlib.wordcount_check(alpha, freq, m), [])
        self.assertEqual(len(benchlib.wordcount_check(
            alpha, freq, {"tokens": 8, "distinct": 3})), 1)
        bad_freq = [(b"a", 2), (b"b", 3), (b"\xc3\xa4", 2)]
        self.assertIn("freq file not ordered by (cnt desc, word asc)",
                      benchlib.wordcount_check(alpha, bad_freq, m))
        bad_alpha = [alpha[1], alpha[0], alpha[2]]
        self.assertIn("alpha file not in strict byte order",
                      benchlib.wordcount_check(bad_alpha, freq, m))


class NamesTest(unittest.TestCase):
    def test_grammar(self):
        for ok in ("pass_s", "exec.core_busy_ratio", "self_s.sources.Tables",
                   "a-b.c_1"):
            self.assertTrue(benchlib.valid_name(ok), ok)
        for bad in ("", "a b", "x/y", "p99%", "a" * 65):
            self.assertFalse(benchlib.valid_name(bad), bad)

    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        for name, _ in e2e + layer:
            self.assertTrue(benchlib.valid_name(name), name)


if __name__ == "__main__":
    unittest.main()
