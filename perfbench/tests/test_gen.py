import os
import tempfile
import unittest

import context  # noqa: F401  (puts benchlib on the path)
from benchlib import gen


class GenTest(unittest.TestCase):
    def test_knobs_are_a_function_of_the_seed(self):
        self.assertEqual(gen.knobs(5), gen.knobs(5))
        self.assertNotEqual(gen.knobs(5), gen.knobs(6))

    @unittest.skipUnless(os.path.isdir(gen.BASE_DIR), "no seed tables")
    def test_same_seed_same_content_other_seed_other_content(self):
        with tempfile.TemporaryDirectory() as d:
            sums = []
            for i, seed in enumerate((41, 41, 42)):
                out = os.path.join(d, str(i))
                m = gen.generate("load_hourly", seed, out, threads=2)
                self.assertEqual(m["tables"]["events"]["rows"], 200000)
                self.assertGreater(m["tables"]["events"]["bytes"], 0)
                sums.append(gen.checksum(out, m["tables"]))
            self.assertEqual(sums[0], sums[1])
            self.assertNotEqual(sums[0], sums[2])

    @unittest.skipUnless(os.path.isdir(gen.BASE_DIR), "no seed tables")
    def test_replicas_stay_disjoint(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("curate_docs", 3, d, threads=2)
            con = gen.connect(2)
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) "
                f"FROM '{d}/documents.parquet'").fetchone()
            self.assertEqual(n, distinct)


if __name__ == "__main__":
    unittest.main()
