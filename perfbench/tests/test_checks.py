import os
import tempfile
import unittest

import context  # noqa: F401  (puts benchlib on the path)
from benchlib import checks

HOUR = 3600 * 1000


class ChecksTest(unittest.TestCase):
    """A hand-made hourly load: correct output passes, damaged output fails."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.out = os.path.join(self.tmp.name, "out")
        os.makedirs(self.data)
        self.con = checks.connect()
        self.con.execute(f"""COPY (
            SELECT i::BIGINT AS event_id, (i * 977 * 1000)::BIGINT AS ts_ms,
              (i % 17)::BIGINT AS user_id, 'view' AS event_type,
              i / 4.0 AS value, '{{}}' AS props
            FROM range(500) t(i)) TO '{self.data}/events.parquet'
            (FORMAT parquet)""")
        self.expected = checks.expected_digest(self.con, "load_hourly",
                                               self.data)

    def tearDown(self):
        self.con.close()
        self.tmp.cleanup()

    def write_output(self, rows_sql):
        self.con.execute(f"""COPY ({rows_sql}) TO '{self.out}'
            (FORMAT parquet, PARTITION_BY (bucket), OVERWRITE_OR_IGNORE)""")

    def problems(self):
        return checks.check_load(self.con, "load_hourly", self.out,
                                 self.expected)

    def events(self, where="TRUE"):
        return (f"SELECT *, ts_ms // {HOUR} AS bucket "
                f"FROM '{self.data}/events.parquet' WHERE {where}")

    def test_correct_output_passes(self):
        self.write_output(self.events())
        self.assertEqual(self.problems(), [])

    def test_missing_row_fails(self):
        self.write_output(self.events("event_id <> 42"))
        self.assertTrue(self.problems())

    def test_changed_value_fails(self):
        self.write_output(
            f"SELECT * REPLACE (CASE WHEN event_id = 7 THEN value + 1 "
            f"ELSE value END AS value) FROM ({self.events()})")
        self.assertTrue(self.problems())

    def test_row_in_the_wrong_hour_directory_fails(self):
        self.write_output(
            f"SELECT * REPLACE (CASE WHEN event_id = 300 THEN bucket + 1 "
            f"ELSE bucket END AS bucket) FROM ({self.events()})")
        got = self.problems()
        self.assertTrue(any("outside their hour" in p for p in got), got)

    def test_no_output_fails(self):
        self.assertEqual(self.problems(), ["no output files"])

    def test_query_results_compare_exactly(self):
        import pandas as pd
        want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertEqual(checks.compare_frames(want[::-1], want), [])
        bad = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5000001]})
        self.assertTrue(checks.compare_frames(bad, want))
        self.assertTrue(checks.compare_frames(want.head(1), want))


if __name__ == "__main__":
    unittest.main()
