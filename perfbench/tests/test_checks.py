"""Output checks of the benchmark. Run: python3 -m unittest discover -s perfbench/tests"""
import datetime
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from benchlib import checks  # noqa: E402

UTC = datetime.timezone.utc


def write_pair(root, rows):
    """A twin file and a sink directory (with a metadata log) holding `rows`
    of (start_ms, osym, count, vol, prem)."""
    exp = os.path.join(root, "expected")
    sink = os.path.join(root, "sink")
    os.makedirs(exp)
    os.makedirs(os.path.join(sink, "_spark_metadata"))
    with open(os.path.join(sink, "_spark_metadata", "0"), "w") as f:
        f.write("v1\n")
    pq.write_table(pa.table({
        "start": [r[0] for r in rows], "osym": [r[1] for r in rows],
        "count": [r[2] for r in rows], "bought_put_vol": [r[3] for r in rows],
        "bought_put_prem": [r[4] for r in rows]}), os.path.join(exp, "part-0.parquet"))
    ts = [datetime.datetime.fromtimestamp(r[0] / 1000, UTC) for r in rows]
    end = [t + datetime.timedelta(minutes=1) for t in ts]
    pq.write_table(pa.table({
        "window_start": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "window_end": pa.array(end, pa.timestamp("us", tz="UTC")),
        "osym": [r[1] for r in rows], "count": [r[2] for r in rows],
        "bought_put_vol": [r[3] for r in rows],
        "bought_put_prem": [r[4] for r in rows]}), os.path.join(sink, "part-0.parquet"))
    return sink, exp


ROWS = [(1704189600000, "AAPL", 3, 120, 2580.5), (1704189660000, "AAPL", 1, 5, 10.25),
        (1704189600000, "MSFT", 2, 0, 0.0)]


class StreamCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def tamper(self, sink, column, i, value):
        path = os.path.join(sink, "part-0.parquet")
        t = pq.read_table(path)
        col = t.column(column).to_pylist()
        col[i] = value
        t = t.set_column(t.column_names.index(column), column, pa.array(col, t.schema.field(column).type))
        pq.write_table(t, path)

    def test_accepts_identical_output(self):
        sink, exp = write_pair(self.dir, ROWS)
        ok, detail = checks.stream_sink_matches(sink, exp)
        self.assertTrue(ok, detail)

    def test_rejects_tampered_measure(self):
        sink, exp = write_pair(self.dir, ROWS)
        self.tamper(sink, "bought_put_prem", 1, 10.26)
        self.assertFalse(checks.stream_sink_matches(sink, exp)[0])

    def test_rejects_tampered_count(self):
        sink, exp = write_pair(self.dir, ROWS)
        self.tamper(sink, "count", 0, 4)
        self.assertFalse(checks.stream_sink_matches(sink, exp)[0])

    def test_rejects_missing_window(self):
        sink, exp = write_pair(self.dir, ROWS)
        pq.write_table(pq.read_table(os.path.join(sink, "part-0.parquet")).slice(0, 2),
                       os.path.join(sink, "part-0.parquet"))
        self.assertFalse(checks.stream_sink_matches(sink, exp)[0])

    def test_rejects_repeated_windows(self):
        sink, exp = write_pair(self.dir, ROWS)
        shutil.copy(os.path.join(sink, "part-0.parquet"), os.path.join(sink, "part-1.parquet"))
        self.assertFalse(checks.stream_sink_matches(sink, exp)[0])


class ContentHash(unittest.TestCase):
    def test_order_insensitive(self):
        a = [(1, "x", 2.5), (2, "y", None)]
        self.assertEqual(checks.content_hash(a), checks.content_hash(list(reversed(a))))
        self.assertNotEqual(checks.content_hash(a), checks.content_hash([(1, "x", 2.5)]))

    def test_norm_unifies_engine_representations(self):
        naive = datetime.datetime(2024, 1, 1, 0, 0, 1)
        aware = naive.replace(tzinfo=UTC)
        self.assertEqual(checks.norm(naive), checks.norm(aware))
        import decimal
        self.assertEqual(checks.norm(decimal.Decimal("1.50")), checks.norm(decimal.Decimal("1.5")))
        self.assertEqual(checks.norm({"b": [1, 2], "a": []}), (("a", ()), ("b", (1, 2))))


if __name__ == "__main__":
    unittest.main()
