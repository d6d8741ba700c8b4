import unittest

import context  # noqa: F401  (puts benchlib on the path)
from benchlib import spans


def span(id, parent, start, end, name="x", pass_=0):
    return {"id": id, "parent": parent, "start_ms": start, "end_ms": end,
            "name": name, "pass": pass_}


class SpansTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(spans.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(spans.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(spans.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(spans.union_length([(0, 5)], 6, 9), 0)
        self.assertEqual(spans.union_length([]), 0)

    def test_self_time_counts_overlapping_children_once(self):
        tree = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70),
                span(4, 2, 20, 30)]
        own = spans.self_times(tree)
        self.assertEqual(own[1], 100 - 60)   # children cover [10, 70]
        self.assertEqual(own[2], 40 - 10)
        self.assertEqual(own[3], 40)
        self.assertEqual(own[4], 10)

    def test_children_outside_the_parent_are_clipped(self):
        own = spans.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(own[1], 5)

    def test_self_by_name_sums_per_name(self):
        tree = [span(1, 0, 0, 10, "pass"), span(2, 1, 0, 4, "job"),
                span(3, 1, 6, 8, "job")]
        self.assertEqual(spans.self_by_name(tree), {"pass": 4, "job": 6})

    def test_pass_spans_parent_jobs_and_stages(self):
        record = {"pass": 3,
                  "jobs": [{"id": 7, "span": 11, "start_ms": 1.0,
                            "end_ms": 5.0}],
                  "stages": [{"id": 9, "job": 7, "submit_ms": 2.0,
                              "done_ms": 4.0}]}
        bench = [span(10, 0, 0, 10, "pass", 3),
                 span(11, 10, 0.5, 9, "pipeline.run", 3),
                 span(12, 0, 0, 1, "pass", 2)]
        got = {s["id"]: s for s in spans.pass_spans(record, bench)}
        self.assertEqual(sorted(got), ["b10", "b11", "j7", "s9"])
        self.assertEqual(got["j7"]["parent"], "b11")
        self.assertEqual(got["s9"]["parent"], "j7")
        own = spans.self_by_name(list(got.values()))
        self.assertEqual(own["pipeline.run"], 8.5 - 4.0)
        self.assertEqual(own["job"], 2.0)


if __name__ == "__main__":
    unittest.main()
