"""The benchmark's own tests: python3 -m unittest discover -s perfbench"""
import datetime as dt
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run      # noqa: E402


def record(workload, ops, failed_ops=()):
    """A minimal harness record; `ops` is a list of (kind, name, seconds,
    error) run back to back from t=100."""
    out, t = [], 100.0
    for i, (kind, name, secs, err) in enumerate(ops):
        out.append({"id": i, "kind": kind, "name": name, "t0": t,
                    "t1": t + secs, "error": err})
        t += secs
    return {"meta": {"workload": workload, "cores": 4,
                     "failed_ops": list(failed_ops), "round_size": 1,
                     "modules": {"q": "Relational"}},
            "ops": out, "spans": [], "jobs": [],
            "samples": [{"name": "calib_s", "after_op": i - 1,
                         "value": metrics.CALIB_REF_S}
                        for i in range(len(out))],
            "stages": [], "execs": []}


def sample_record(workload):
    if workload == "analyst":
        return record(workload, [("query", "q", 0.5, None)] * 3)
    if workload == "mv_stream":
        return record(workload, [("fold", "batch=0", 1.0, None),
                                 ("dash", "batch=0", 0.5, None)])
    return record(workload, [("crawl_batch", "batch=0", 4.0, None),
                             ("curate", "curate_full", 6.0, None)])


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        for n, pct in [(20, 50), (30, 66), (100, 90), (105, 90), (1000, 99)]:
            values = [float(x) for x in range(n, 0, -1)]
            value, p, count = metrics.tail(values)
            self.assertEqual((p, count), (pct, n))
            self.assertGreaterEqual(sum(x > value for x in values), 10)
            # one percentile higher would leave fewer than ten beyond
            higher = sorted(values)[-(-(p + 1) * n // 100) - 1]
            self.assertLess(sum(x > higher for x in values), 10)

    def test_below_twenty_samples_the_tail_is_the_maximum(self):
        for n in (1, 10, 19):
            self.assertEqual(metrics.tail(list(range(n))), (n - 1, 100, n))


class FailedOpTest(unittest.TestCase):
    def test_a_failing_op_raises_error_rate_and_is_not_a_fast_op(self):
        ops = [("query", "q", 1.0, None)] * 9 + [
            ("query", "q", 0.001, "java.lang.RuntimeException: boom")]
        report, result = metrics.summarize(record("analyst", ops), 90.0, 0)
        self.assertAlmostEqual(report["error_rate"], 0.1)
        self.assertEqual((result["attempted"], result["failed"]), (10, 1))
        self.assertFalse(result["correct"])
        self.assertEqual(result["metrics"]["op_p50_s"]["value"], 1.0)

    def test_a_wrong_output_counts_as_a_failed_op(self):
        ops = [("fold", "batch=0", 1.0, None), ("dash", "batch=0", 0.01, None),
               ("fold", "batch=1", 1.0, None), ("dash", "batch=1", 0.5, None)]
        report, result = metrics.summarize(
            record("mv_stream", ops, failed_ops=[1]), 90.0, 0)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertEqual(report["error_rate"], 0.25)
        self.assertEqual(result["metrics"]["op_p50_s"]["value"], 1.5)


class MetricNamesTest(unittest.TestCase):
    def test_printed_metrics_are_those_in_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            want = {m["name"]: m["unit"] for m in bench[key]}
            for w in bench["workloads"]:
                _, result = metrics.summarize(
                    sample_record(w["name"]), 90.0, trace)
                got = {k: v["unit"] for k, v in result["metrics"].items()}
                self.assertEqual(got, want, (w["name"], key))


class HostScaleTest(unittest.TestCase):
    def test_times_scale_with_the_runs_calibration(self):
        ops = [("query", "q", 1.0, None)] * 3
        r = record("analyst", ops)
        for s in r["samples"]:
            s["value"] = 2 * metrics.CALIB_REF_S   # a slow host
        report, result = metrics.summarize(r, 90.0, 0)
        m = result["metrics"]
        self.assertEqual(report["raw"]["op_p50_s"], 1.0)
        self.assertAlmostEqual(m["op_p50_s"]["value"], 0.5)
        self.assertAlmostEqual(m["setup_s"]["value"], 5.0)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 2.0)


class CheckTest(unittest.TestCase):
    def test_duckdb_values_normalize_like_the_harness_cells(self):
        # the harness writes timestamps as UTC microseconds, dates and
        # non-finite doubles tagged
        ts = dt.datetime(2024, 1, 2, 3, 4, 5, 6)
        self.assertEqual(run._norm(ts), run._norm({"ts": 1704164645000006}))
        self.assertEqual(run._norm(dt.date(2024, 1, 2)),
                         run._norm({"date": "2024-01-02"}))
        self.assertEqual(run._norm(float("nan")), run._norm({"double": "NaN"}))
        self.assertEqual(run._norm(2.5), run._norm(json.loads("2.5E0")))


if __name__ == "__main__":
    unittest.main()
