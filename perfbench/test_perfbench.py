"""Self-tests for the benchmark's own code (no JVM needed).

    python3 perfbench/test_perfbench.py
"""
import json
import re
import tempfile
import unittest
from pathlib import Path

import run

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def extract_raw(lineages, trace=False):
    """A harness observation file for extract_bulk with one op per lineage."""
    golden = {"0": "aa", "1": "bb"}
    raw = {
        "workload": "extract_bulk", "setup_s": 20.5, "items_per_op": 4,
        "peak_rss_mib": 3000.0,
        "samples": [{"wall": 1.0 + i / 10, "cpu": 2.0, "obs": {"docs_in": 4, "docs_out": 4, "lineage": l}}
                    for i, l in enumerate(lineages)],
        "check": {"docs": 4, "golden": golden},
        "host": {"host.steal_pct": 0.1, "host.cpu_some_pct": 3.0, "host.loadavg1": 1.0, "host.calib_s": 0.06},
        "layers": {}, "profile_check": None}
    if trace:
        raw["layers"] = {m["name"]: 1.5 for m in run.spec()["per_layer"] if not m["name"].startswith("host.")}
        raw["profile_check"] = {
            "docs": 4, "funnel": {"docs_in": 4, "extracted": 4, "quality_pass": 3, "curated": 2},
            "resume": resume_cycle(1), "resume_check": {"docs": 4, "parts": 2, "golden": golden}}
    return raw


def resume_cycle(second_pid):
    """Two restarts of one output with two pids; the second call lists the
    manifests and reads the lineage back."""
    return [{"wall": 1.0, "obs": {"docs_in": 2, "processed": [0]}},
            {"wall": 1.0, "obs": {"docs_in": 2, "processed": [second_pid], "manifests": 2, "lineage": GOOD}}]


GOOD = [[0, 2, "aa"], [1, 2, "bb"]]


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(run.reportable_percentile([1.0] * 9 + [2.0]))
        self.assertIsNone(run.reportable_percentile([float(i) for i in range(1, 21)]))

    def test_highest_with_ten_beyond(self):
        q, v = run.reportable_percentile([float(i) for i in range(1, 101)])
        self.assertEqual(q, 90)
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)
        self.assertEqual(run.reportable_percentile([float(i) for i in range(1, 41)])[0], 75)


class MetricNames(unittest.TestCase):
    def test_names_and_units(self):
        bench = run.spec()
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertLessEqual(len(m["name"]), 64)
            self.assertRegex(m["unit"], UNIT)

    def test_every_metric_reported_with_its_unit(self):
        bench = run.spec()
        for trace, wanted in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
            res = run.result(extract_raw([GOOD, GOOD], trace), trace, bench)
            self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
            for m in wanted:
                self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_throughput_is_per_median_pass(self):
        raw = extract_raw([GOOD] * 5)
        raw["workload"], raw["group"], raw["items_per_op"] = "query_suite", 2, 1
        raw["samples"] = [{"wall": w, "cpu": 1.0, "obs": {"query": "q"}} for w in (1, 1, 1, 2, 9, 9, 1, 1)]
        self.assertEqual(run.pass_walls(raw), [2, 3, 18, 2])
        self.assertEqual(run.end_to_end(raw)["items_per_s"], 2 / 2.5)

    def test_missing_layer_is_an_error(self):
        raw = extract_raw([GOOD], trace=True)
        del raw["layers"]["kernel.us_per_doc"]
        with self.assertRaises(ValueError):
            run.result(raw, True)


class PlantedFaults(unittest.TestCase):
    def test_correct_outputs_pass(self):
        res = run.result(extract_raw([GOOD, GOOD]), False)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 2, 0))

    def test_wrong_digest_fails_the_op(self):
        res = run.result(extract_raw([GOOD, [[0, 2, "aa"], [1, 2, "bx"]]]), False)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 2, 1))

    def test_missing_pid_fails_the_op(self):
        res = run.result(extract_raw([[[1, 4, "bb"]]]), False)
        self.assertEqual(res["failed"], 1)

    def test_resume_cycle_with_a_pid_processed_twice_fails_every_call(self):
        check = {"docs": 4, "parts": 2, "golden": {"0": "aa", "1": "bb"}}
        self.assertEqual(run.check_resume(resume_cycle(1) + resume_cycle(1), check), 0)
        self.assertEqual(run.check_resume(resume_cycle(1) + resume_cycle(0), check), 2)

    def test_traced_run_counts_the_profile_checks(self):
        res = run.result(extract_raw([GOOD], trace=True), True)
        self.assertEqual((res["attempted"], res["failed"]), (4, 0))

    def test_wrong_funnel_fails_the_traced_run(self):
        raw = extract_raw([GOOD], trace=True)
        raw["profile_check"]["funnel"]["curated"] = 5
        res = run.result(raw, True)
        self.assertEqual((res["attempted"], res["failed"]), (4, 1))

    def test_wrong_resume_digest_fails_the_traced_run(self):
        raw = extract_raw([GOOD], trace=True)
        raw["profile_check"]["resume"][1]["obs"]["lineage"] = [[0, 2, "aa"], [1, 2, "b0"]]
        res = run.result(raw, True)
        self.assertEqual((res["attempted"], res["failed"]), (4, 2))

    def test_wrong_query_result_fails_its_executions(self):
        import duckdb
        (run.ROOT / ".perfbench").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.ROOT / ".perfbench") as d:
            d = Path(d)
            con = duckdb.connect()
            con.execute(f"COPY (SELECT range AS k, range % 3 AS v FROM range(10)) TO '{d}/t.parquet'")
            (d / "ok").mkdir()
            (d / "bad").mkdir()
            con.execute(f"COPY (SELECT v, count(*) AS n FROM '{d}/t.parquet' GROUP BY v) TO '{d}/ok/part.parquet'")
            con.execute(f"COPY (SELECT v, count(*) + (v = 2)::INT AS n FROM '{d}/t.parquet' GROUP BY v) "
                        f"TO '{d}/bad/part.parquet'")
            sql = "SELECT v, count(*) AS n FROM t GROUP BY v"
            check = {"q_ok": {"dir": str(d / "ok"), "sql": sql}, "q_bad": {"dir": str(d / "bad"), "sql": sql}}
            samples = [{"obs": {"query": q}} for q in ("q_ok", "q_bad", "q_ok", "q_bad", "q_bad")]
            self.assertEqual(run.wrong_queries(check, d), {"q_bad"})
            self.assertEqual(run.check_queries(samples, check, d), 3)


class Contract(unittest.TestCase):
    def test_benchmark_json_shape(self):
        b = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
