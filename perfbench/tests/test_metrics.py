"""Metric helpers and output checks, on hand-made harness results."""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import workbook  # noqa: E402


def sweep_result(ops):
    return {"workload": "query_sweep", "first_op_us": 3_000_000, "session_start_s": 1.5,
            "peak_rss_kb": 2048, "layers": {}, "ops": ops}


def query(name, secs, phase="timed", rows=3, h="ab", module="Relational"):
    return {"id": 0, "name": name, "phase": phase, "ok": True, "secs": secs,
            "construct_s": secs / 4, "rows": rows, "hash": h, "module": module}


class PercentileTest(unittest.TestCase):
    def test_beyond(self):
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.beyond(99, 0.9), 9)
        self.assertEqual(metrics.beyond(20, 0.5), 10)

    def test_highest_percentile_needs_ten_beyond(self):
        self.assertIsNone(metrics.highest_percentile(39))
        self.assertEqual(metrics.highest_percentile(40), 0.75)
        self.assertEqual(metrics.highest_percentile(100), 0.9)
        self.assertEqual(metrics.highest_percentile(200), 0.95)
        self.assertEqual(metrics.highest_percentile(1000), 0.99)

    def test_quantile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.quantile(xs, 0.9), 90)
        self.assertEqual(metrics.quantile(xs, 0.5), 50)
        self.assertEqual(metrics.quantile([7], 0.99), 7)

    def test_op_tail_only_with_enough_samples(self):
        few = sweep_result([query("q", 1.0)] * 30)
        self.assertIsNone(metrics.op_tail(few))
        many = sweep_result([query("q", float(i)) for i in range(1, 101)])
        self.assertEqual(metrics.op_tail(many), (0.9, 90.0, 100))


class NamesTest(unittest.TestCase):
    def test_names_and_units(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertTrue(metrics.METRIC_NAME.fullmatch(m["name"]))
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.PER_LAYER)
        self.assertEqual(set(bench["workloads"][i]["name"] for i in range(len(bench["workloads"]))),
                         {"monthly_load", "query_sweep"})

    def test_sweep_queries_are_fingerprinted(self):
        import run
        fingerprints = json.loads(run.FINGERPRINTS.read_text())
        self.assertEqual(tuple(sorted(fingerprints)), run.QUERIES)
        self.assertEqual({f"module.{fp['module']}_s" for fp in fingerprints.values()},
                         {m for m in metrics.PER_LAYER if m.startswith("module.")})


class EndToEndTest(unittest.TestCase):
    def test_sweep_medians(self):
        ops = [query("a", 1.0), query("a", 3.0), query("b", 4.0), query("c", 0.5),
               query("c", 9.0, phase="warmup")]
        e2e = metrics.end_to_end(sweep_result(ops), launched_us=1_000_000)
        self.assertEqual(e2e["setup_s"], (2.0, 1))
        self.assertEqual(e2e["op_p50_s"], (2.0, 3))
        self.assertEqual(e2e["pass_s"], (6.5, 3))


class SweepCheckTest(unittest.TestCase):
    fingerprints = {"a": {"rows": 3, "hash": "ab"}, "b": {"rows": 3, "hash": "ab"}}

    def test_matching_fingerprints_pass(self):
        attempted, failures = metrics.check_sweep(
            sweep_result([query("a", 1.0), query("b", 1.0)]), self.fingerprints)
        self.assertEqual((attempted, failures), (2, []))

    def test_tampered_fingerprint_fails(self):
        tampered = dict(self.fingerprints, a={"rows": 3, "hash": "0"})
        attempted, failures = metrics.check_sweep(
            sweep_result([query("a", 1.0), query("b", 1.0)]), tampered)
        self.assertEqual(attempted, 2)
        self.assertEqual(len(failures), 1)

    def test_wrong_rows_error_and_unknown_query_fail(self):
        bad = [query("a", 1.0, rows=4), dict(query("b", 1.0), ok=False, err="boom"),
               query("z", 1.0)]
        _, failures = metrics.check_sweep(sweep_result(bad), self.fingerprints)
        self.assertEqual(len(failures), 3)


class MonthlyCheckTest(unittest.TestCase):
    """A short run built from the generator's own expectations."""

    def setUp(self):
        self.plan = workbook.plan(3, workbook.REPLAY_AT + 2)
        self.facts = {k: workbook.workbook(3, op["year"], op["month"], op["version"])[1]
                      for k, op in enumerate(self.plan)}
        self.history = {(2015, 1): (10, 1234)}
        fold = workbook.Fold()
        ops = []
        for k, op in enumerate(self.plan):
            fold.load(op["stamp"], self.facts[k])
            n, c = fold.months()[(op["year"], op["month"])]
            rec = {"id": k, "name": op["kind"], "phase": "timed", "ok": True,
                   "read_rows": n, "read_cents": c}
            if op["kind"] == "replay":
                rec.update(checksum_before="7:99", checksum_after="7:99")
            ops.append(rec)
        months = {**self.history, **fold.months()}
        self.result = {"workload": "monthly_load", "ops": ops, "checks": {
            "ops_loaded": len(self.plan),
            "months": [[y, m, n, c] for (y, m), (n, c) in sorted(months.items())]}}

    def check(self):
        return metrics.check_monthly(self.result, self.plan, self.facts.__getitem__, self.history)

    def test_untampered_table_passes(self):
        self.assertEqual(self.check(), (len(self.plan) + 1, []))

    def test_tampered_table_fails(self):
        self.result["checks"]["months"][-1][3] += 1  # one cent off in one month
        attempted, failures = self.check()
        self.assertEqual(attempted, len(self.plan) + 1)
        self.assertEqual(len(failures), 1)
        self.result["checks"]["months"].pop(0)  # a month lost
        self.assertEqual(len(self.check()[1]), 1)

    def test_replay_that_changes_the_table_fails(self):
        replay = next(op for op in self.result["ops"] if op["name"] == "replay")
        replay["checksum_after"] = "7:100"
        self.assertEqual(len(self.check()[1]), 1)

    def test_wrong_final_read_fails(self):
        self.result["ops"][1]["read_rows"] -= 1
        self.assertEqual(len(self.check()[1]), 1)


if __name__ == "__main__":
    unittest.main()
