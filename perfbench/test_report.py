"""Tests of the benchmark's failure accounting and metric rules.

    python3 perfbench/test_report.py
"""
import os
import sys
import tempfile
import unittest
from types import SimpleNamespace

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def sample(op, ms, ok):
    return {"op": op, "kind": "op", "startMs": 0.0, "ms": ms, "ok": ok, "rows": 1}


def record(samples, out_dir="", data_dir="", oracle=None):
    return {"workload": "olap_tpch", "cpus": 4, "peak_rss_kb": 2048 * 1024,
            "marks": {"session_ms": 6000.0, "first_op_ms": 11000.0},
            "segments": [{"name": "main", "start_ms": 0.0, "end_ms": 10000.0,
                          "samples": samples, "layer": {}}],
            "errors": {}, "extra": {}, "oracle": oracle or {},
            "out_dir": out_dir, "data_dir": data_dir}


class FailureAccounting(unittest.TestCase):

    def test_failed_samples_count_and_are_left_out_of_timings(self):
        # 20 good 100 ms ops, one op that threw after 1 ms, one that
        # returned a wrong result after 5000 ms
        samples = [sample("good", 100.0, True)] * 20
        samples += [sample("throws", 1.0, False), sample("wrong", 5000.0, False)]
        args = SimpleNamespace(seed=1, trace=0, seconds=10)
        with tempfile.TemporaryDirectory() as work:
            out = report.evaluate(record(samples), args, 1000.0, work, os.path.dirname(HERE))
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (22, 2, False))
        m = out["metrics"]
        self.assertEqual(m["op_p50_ms"]["value"], 100.0)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 2.0)
        self.assertAlmostEqual(m["setup_s"]["value"], 10.0)

    def test_a_wrong_warm_up_result_fails_every_sample_of_its_op(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as work:
            os.makedirs(os.path.join(work, "out", "q"))
            pq.write_table(pa.table({"x": [2]}), os.path.join(work, "out", "q", "p.parquet"))
            rec = record([sample("q", 10.0, True)] * 25 + [sample("r", 10.0, True)] * 25,
                         out_dir=os.path.join(work, "out"), data_dir=work,
                         oracle={"q": "SELECT CAST(1 AS BIGINT) AS x"})
            out = report.evaluate(rec, SimpleNamespace(seed=1, trace=0, seconds=10), 0.0, work,
                                  os.path.dirname(HERE))
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (50, 25, False))


class Helpers(unittest.TestCase):

    def test_percentile_reports_samples_beyond_it(self):
        self.assertEqual(report.pct(list(range(1, 101)), 90), (90, 10))
        self.assertEqual(report.pct([5.0], 50), (5.0, 0))

    def test_union_clips_and_merges_intervals(self):
        self.assertEqual(report.union_ms([(0, 4), (2, 6), (8, 20)], 1, 10), 7)


if __name__ == "__main__":
    unittest.main()
