"""Tests of the benchmark's own code: generator determinism, the oracle's
content hash, and the output format. No JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = {"etl_json_assign": 600, "etl_avro_stream": 480, "curate_neardup": 200}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def test_same_seed_same_input_hash(self):
        for w, n in SMALL.items():
            a = gen.generate(w, 7, n, os.path.join(self.root, "a"))
            b = gen.generate(w, 7, n, os.path.join(self.root, "b"))
            self.assertEqual(a["input_hash"], b["input_hash"], w)
            self.assertEqual(a["expected"], b["expected"], w)

    def test_other_seed_other_input_hash(self):
        for w, n in SMALL.items():
            a = gen.generate(w, 7, n, os.path.join(self.root, "a"))
            b = gen.generate(w, 8, n, os.path.join(self.root, "b"))
            self.assertNotEqual(a["input_hash"], b["input_hash"], w)

    def test_cache_is_reused(self):
        a = gen.generate("curate_neardup", 3, 200, self.root)
        marker = os.path.join(a["dir"], "marker")
        open(marker, "w").close()
        b = gen.generate("curate_neardup", 3, 200, self.root)
        self.assertEqual(a, b)
        self.assertTrue(os.path.exists(marker))

    def test_planted_truth_is_consistent(self):
        m = gen.generate("etl_json_assign", 5, 600, self.root)["expected"]
        self.assertEqual(m["event_count"], m["empty_count"] + m["non_empty_count"])
        self.assertGreater(m["error_count"], 0)
        self.assertGreater(m["filtered_rows"], 0)
        self.assertGreater(m["masked_rows"], 0)
        c = gen.generate("curate_neardup", 5, 200, self.root)["expected"]
        self.assertLess(c["after_exact_dedup"], c["after_filters"])
        self.assertLess(c["after_filters"], c["input"])

    def test_json_values_are_distinct(self):
        # The planted truth assumes no two non-null values share a kafka_hash
        # (the dedup key), malformed ones included.
        for seed in range(1, 6):
            m = gen.generate("etl_json_assign", seed, 5000, self.root)
            props = pq.read_table(os.path.join(m["dir"], "events.parquet"), columns=["props"])
            values = [v for v in props.column("props").to_pylist() if v is not None]
            self.assertEqual(len(values), len(set(values)), seed)


class OracleTest(unittest.TestCase):
    def test_duckdb_hash_matches_generator_hash(self):
        rows = [("7", 1, 7, 1717380000123456, "t", "ab", '{"id":1}', "TESTERSEN"),
                ("8", 2, 0, 1717380000000000, "t", "cd", None, "TESTERSEN"),
                ("9", 3, 1, 1717390000000001, "t", None, None, "TESTERSEN")]
        d = tempfile.mkdtemp(prefix="perfbench-test-")
        try:
            cols = list(zip(*rows))
            pq.write_table(pa.table({
                "kafka_key": pa.array(cols[0], pa.string()),
                "kafka_offset": pa.array(cols[1], pa.int64()),
                "kafka_partition": pa.array(cols[2], pa.int32()),
                "kafka_timestamp": pa.array(cols[3], pa.timestamp("us")),
                "kafka_topic": pa.array(cols[4], pa.string()),
                "kafka_hash": pa.array(cols[5], pa.string()),
                "kafka_message": pa.array(cols[6], pa.string()),
                "KILDESYSTEM": pa.array(cols[7], pa.string()),
            }), os.path.join(d, "part-0.parquet"))
            n, nulls, h = oracle.sink_stats(d)
        finally:
            shutil.rmtree(d)
        self.assertEqual((n, nulls), (3, 1))
        self.assertEqual(h, sum(gen.row_hash(r) for r in rows[:2]) % gen.HASH_MOD)

    def test_json_message_matches_payload_ops(self):
        p = {"id": 3, "value": "Message 3", "string": "hei", "enum": "ALSO",
             "person": {"id": 50, "name": "p50"}, "nested": None, "nested2": None,
             "nested3": {"key": "test", "keep": "k3"},
             "nested4": [{"index": None, "tag": "t0"}],
             "nested5": [{"key1": "test"}, {"key2": "test"}, {"key2": None}],
             "nested6": [{"nested7": [{"key": "val", "other": "o3"}]}], "extra": "x"}
        self.assertEqual(
            gen.json_message_after_ops(p),
            '{"id":3,"value":"Message 3","enum":"ALSO","person":{"id":50,"name":"p50"},'
            '"nested":0,"nested3":{"keep":"k3"},"nested4":[{"index":0,"tag":"t0"}],'
            '"nested5":[{"key1":"test","key2":0},{"key2":1},{"key2":0}],'
            '"nested6":[{"nested7":[{"other":"o3"}]}]}')


class OutputFormatTest(unittest.TestCase):
    def lines(self, spec):
        values = {name: 1.25 for name, _ in spec}
        return run.report_lines(spec, values, {"rows_per_s.samples": 3}, {"seed": 1}, [True, False])

    def test_metric_lines_and_summary(self):
        for spec in (run.END_TO_END, run.PER_LAYER):
            out = self.lines(spec)
            summary = json.loads(out[-1])
            self.assertEqual(set(summary), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual((summary["correct"], summary["attempted"], summary["failed"]),
                             (False, 2, 1))
            self.assertEqual(set(summary["metrics"]), {n for n, _ in spec})
            for name, unit in spec:
                self.assertIn(f"{name} 1.25 {unit}", out)
                self.assertEqual(summary["metrics"][name], {"value": 1.25, "unit": unit})

    def test_end_to_end_summary_is_short(self):
        values = {name: 123456.78901234567 for name, _ in run.END_TO_END}
        out = run.report_lines(run.END_TO_END, values, {}, {}, [True])
        self.assertLess(len(out[-1]), 2000)

    def test_metric_names_match_benchmark_json(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(gen.WORKLOADS))

    def test_tail_percentile(self):
        self.assertEqual(run.tail_percentile([3.0, 1.0, 2.0]), (100.0, 3.0))
        pct, v = run.tail_percentile([float(i) for i in range(1, 41)])
        self.assertEqual((pct, v), (75.0, 30.0))


if __name__ == "__main__":
    unittest.main()
