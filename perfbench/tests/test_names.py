import json
import os
import re
import unittest

import context  # noqa: F401  (puts benchlib on the path)
from benchlib import metrics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..",
                         "BENCHMARK.json")


class NamesTest(unittest.TestCase):
    def test_every_metric_name_and_unit_is_well_formed(self):
        names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(NAME.fullmatch(name), name)
            self.assertTrue(UNIT.fullmatch(unit), unit)

    @unittest.skipUnless(os.path.exists(BENCHMARK), "no BENCHMARK.json")
    def test_benchmark_json_lists_what_the_code_emits(self):
        with open(BENCHMARK) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
