"""Tests of the benchmark's own code: generator determinism, the tail
percentile rule, the output checks and the shape of the printed result.

    python3 -m pytest perfbench/tests      (or: python3 -m unittest
    discover -s perfbench/tests)
"""

import copy
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):

    def test_kroger_batches_depend_only_on_seed(self):
        a = gen.kroger_batches(7, 3, 200)
        self.assertEqual(a, gen.kroger_batches(7, 3, 200))
        self.assertNotEqual(a, gen.kroger_batches(8, 3, 200))

    def test_dashboard_windows_depend_only_on_seed(self):
        a = gen.dashboard_windows(7, 30)
        self.assertEqual(a, gen.dashboard_windows(7, 30))
        self.assertNotEqual(a, gen.dashboard_windows(8, 30))

    def test_snapshot_is_fixed(self):
        a = gen.snapshot_tables(0.001)
        b = gen.snapshot_tables(0.001)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertEqual(a["lineitem"].num_rows, 6000)

    def test_write_kroger_is_byte_identical_per_seed(self):
        import tempfile
        digests = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                gen.write_kroger(d, 3, 2, 100)
                digests.append({
                    os.path.relpath(os.path.join(r, f), d):
                        open(os.path.join(r, f)).read()
                    for r, _, fs in os.walk(d) for f in fs})
        self.assertEqual(digests[0], digests[1])

    def test_batches_resend_keys_and_add_the_stated_share(self):
        batches = gen.kroger_batches(5, 3, 1000)
        keys = [{(p["product_id"], p["location_id"]) for p in b["prices"]}
                for b in batches]
        new = keys[1] - keys[0]
        self.assertEqual(len(new), round(1000 * gen.NEW_KEY_SHARE))
        self.assertEqual(len(keys[1] & keys[0]), 1000 - len(new))

    def test_expected_state_is_last_write_wins(self):
        batches = gen.kroger_batches(5, 3, 300)
        final = gen.expected_states(batches)[-1]["prices"]
        for b in batches:
            for row in b["prices"]:
                key = (row["product_id"], row["location_id"], row["item_id"])
                self.assertIn(key, final)
        last = batches[-1]["prices"][0]
        key = (last["product_id"], last["location_id"], last["item_id"])
        self.assertEqual(final[key]["regular_price"], last["regular_price"])

    def test_window_makeup_is_the_same_for_every_seed(self):
        for seed in range(20):
            w = gen.dashboard_windows(seed, 8)
            empty = [x for x in w if x[0] >= "2010"]
            self.assertEqual(len(empty), 8 * gen.EMPTY_WINDOW_SHARE)
            # The two clients' first loads share a window.
            self.assertEqual(w[0], w[1])
            self.assertEqual(w[:4], w[4:])
            self.assertTrue(all("1995" <= x[0] < "2002" for x in w
                                if x not in empty))

    def test_dashboard_op_count_is_whole_window_cycles(self):
        for seconds in (1, 10, 11, 30):
            n = run.op_count("dashboard", seconds)
            self.assertEqual(n % len(gen.WINDOW_PATTERN), 0)
            self.assertEqual(n % run.CLIENTS, 0)


class TailPercentile(unittest.TestCase):

    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(run.tail_percentile(list(range(10))))

    def test_twenty_samples_give_the_median(self):
        t = run.tail_percentile([float(i) for i in range(1, 21)])
        self.assertEqual(t["percentile"], 50)
        self.assertEqual(t["value"], 10.0)
        self.assertEqual(t["samples_beyond"], 10)

    def test_highest_percentile_keeps_ten_beyond(self):
        for n in (11, 25, 40, 100, 1000):
            t = run.tail_percentile([float(i) for i in range(n)])
            self.assertGreaterEqual(t["samples_beyond"], 10)
            self.assertEqual(t["samples"], n)
        self.assertEqual(run.tail_percentile(list(range(40)))["percentile"],
                         75)
        self.assertEqual(run.tail_percentile(list(range(1000)))["percentile"],
                         99)


def _spans(names):
    """A traced op with one span per name under a root span "op"."""
    counters = {"jobs": 2, "tasks": 4, "cpu_s": 0.5, "task_wait_s": 0.1,
                "input_mb": 1.0, "output_mb": 2.0, "shuffle_write_mb": 0.5,
                "spill_mb": 0.0}
    spans = [{"id": 0, "name": "op", "parent": -1, "op": 1, "start_s": 0.0,
              "end_s": 3.0, "self": dict(counters, jobs=0, tasks=0)}]
    for i, n in enumerate(names, 1):
        spans.append({"id": i, "name": n, "parent": 0, "op": 1,
                      "start_s": 0.0, "end_s": 1.0, "self": dict(counters)})
    spans.append({"id": len(spans), "name": "Tables.scan", "parent": -1,
                  "op": -1, "start_s": 0.0, "end_s": 0.2,
                  "self": dict(counters)})
    return spans


RAW = {
    "mart_refresh": {
        "ops": [{"op": i, "s": 20.0 + i, "run_s": 8.0, "run_rows": 400,
                 "relations": {"fact_prices": {"rows": 10, "hash": "ab",
                                               "run_rows": 10}}}
                for i in range(2)],
        "trace": {"spans": _spans(["ext.Dedup.near_dup_labels",
                                   "Pipeline.run",
                                   "ext.CorpusPrep.training_corpus"]),
                  "executions": [
                      {"id": 1, "span": 2, "start_s": 1.0, "end_s": 1.5,
                       "write": "fact_prices", "reads_customer": False},
                      {"id": 2, "span": 2, "start_s": 2.0, "end_s": 2.25,
                       "write": None, "reads_customer": True}]}},
    "dashboard": {
        "ops": [{"op": i, "s": 4.0 + i / 10,
                 "window": "1996-01-01,1996-02-01",
                 "charts": {c: "d" + c for c in (
                     "chart1_box", "chart2_geo", "chart3_stock",
                     "chart4_discount", "chart5_quadrant")}}
                for i in range(4)],
        "measure_wall_s": 9.0,
        "render_all": {"renderAll": {"chart1_box": "x"},
                       "composed": {"chart1_box": "x"}},
        "trace": {"spans": _spans(["Dashboard.chart1_box"]),
                  "executions": []}},
    "price_ingest": {
        "ops": [{"op": i, "s": 6.0, "batch": i + run.WARM_BATCHES,
                 "violations": 0, "raw_rows": 1100 + 100 * i,
                 "state_diff": {"prices": 0, "locations": 0,
                                "products": 0}} for i in range(2)],
        "warm_raw_rows": 1000,
        "trace": {"spans": _spans(["ops.KrogerIngest.upsert",
                                   "ops.KrogerModels.fact"]),
                  "executions": []}},
}
INFO = {"mart_refresh": {},
        "dashboard": {},
        "price_ingest": {"rows": [1000, 1100, 1100, 1100],
                         "bytes": [10_000, 11_000, 11_000, 11_000],
                         "price_rows": 1000}}
PINS = {"mart_refresh": {"fact_prices": {"rows": 10, "hash": "ab"}}}


def _raw(workload, **common):
    raw = dict(copy.deepcopy(RAW[workload]), session_s=5.0, warmup_s=0.0,
               setup_reps_s=[1.0, 2.0, 3.0], storage_mem_peak_mb=12.5,
               calibration_s=0.4)
    raw.update(common)
    return raw


class ResultLine(unittest.TestCase):

    def test_every_declared_metric_is_printed_with_its_unit(self):
        for workload in RAW:
            for trace, section in ((0, "end_to_end"), (1, "per_layer")):
                named, result, failures = run.report(
                    workload, _raw(workload), INFO[workload], PINS, trace,
                    1, 10)
                line = json.loads(json.dumps(result))
                self.assertEqual(set(line), {"correct", "attempted",
                                             "failed", "metrics"})
                want = run.declared(section)
                self.assertEqual(set(line["metrics"]), {n for n, _ in want})
                for name, unit in want:
                    m = line["metrics"][name]
                    self.assertEqual(m["unit"], unit)
                    self.assertIsInstance(m["value"], (int, float),
                                          (workload, name))
                self.assertTrue(line["correct"], (workload, failures))
                self.assertEqual(line["failed"], 0)
                self.assertGreaterEqual(line["attempted"], 1)

    def test_refresh_throughput_is_the_mart_build_alone(self):
        named, result, _ = run.report("mart_refresh", _raw("mart_refresh"),
                                      INFO["mart_refresh"], PINS, 0, 1, 10)
        self.assertEqual(result["metrics"]["throughput_per_s"]["value"], 50.0)
        self.assertEqual(result["metrics"]["op_p50_s"]["value"], 20.5)

    def test_setup_is_session_plus_median_repetition(self):
        _, result, _ = run.report("dashboard", _raw("dashboard"),
                                  INFO["dashboard"], PINS, 0, 1, 10)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 7.0)

    def test_traced_run_reports_named_layers_and_overhead(self):
        named, _, _ = run.report("mart_refresh", _raw("mart_refresh"),
                                 INFO["mart_refresh"], PINS, 1, 1, 10,
                                 untraced_p50=20.0)
        layers = named["layers"]
        self.assertEqual(layers["Pipeline.write.fact_prices_s"], 0.5)
        self.assertEqual(layers["ops.Quality.dq_checks_s"], 0.25)
        self.assertIn("ext.Dedup.near_dup_labels_cpu_s", layers)
        self.assertIn("Pipeline.run_spill_mb", layers)
        self.assertEqual(named["named"]["tracing_overhead_s"], 0.5)
        ingest, _, _ = run.report("price_ingest", _raw("price_ingest"),
                                  INFO["price_ingest"], PINS, 1, 1, 10)
        self.assertEqual(ingest["layers"]["ingest.upsert_replaced_share"],
                         0.9)

    def test_failed_checks_fail_the_op(self):
        bad = _raw("mart_refresh")
        bad["ops"][0]["relations"]["fact_prices"]["hash"] = "cd"
        _, result, failures = run.report("mart_refresh", bad,
                                         INFO["mart_refresh"], PINS, 0, 1, 10)
        self.assertEqual(result["failed"], 1)
        self.assertFalse(result["correct"])
        self.assertIn("fact_prices", failures[0])

        dash = _raw("dashboard")
        dash["ops"][3] = dict(dash["ops"][3], charts=dict(
            dash["ops"][3]["charts"], chart1_box="changed"))
        _, result, _ = run.report("dashboard", dash, INFO["dashboard"], PINS,
                                  0, 1, 10)
        self.assertEqual(result["failed"], 1)

        drift = _raw("dashboard")
        drift["render_all"]["composed"]["chart1_box"] = "y"
        _, result, failures = run.report("dashboard", drift,
                                         INFO["dashboard"], PINS, 0, 1, 10)
        self.assertEqual(result["failed"], 4)
        self.assertIn("renderAll", failures[0])

        ing = _raw("price_ingest")
        ing["ops"][1] = dict(ing["ops"][1], state_diff={"prices": 3})
        _, result, _ = run.report("price_ingest", ing, INFO["price_ingest"],
                                  PINS, 0, 1, 10)
        self.assertEqual(result["failed"], 1)


if __name__ == "__main__":
    unittest.main()
