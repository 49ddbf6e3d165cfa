"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v

The fast tests need only Python and DuckDB. ``ServiceAcceptanceTest``
builds the harness (as a benchmark run does) and sends every template's
requests to `graft.Service` at sf0.01; it is skipped when the data
directory ($SPARK_GRAFT_SF001_DIR, by default ~/testdata/sf0.01) is
missing.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from bench import jxgen, metrics, oracle, stats  # noqa: E402

SF001 = os.environ.get("SPARK_GRAFT_SF001_DIR",
                       os.path.expanduser("~/testdata/sf0.01"))


def spec(workload, seed):
    return run.make_input(workload, seed, 10, 0, "data", "local")


class SeedTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            self.assertEqual(spec(w, 7), spec(w, 7), w)

    def test_different_seeds_different_inputs(self):
        a, b = spec("jx_service", 1), spec("jx_service", 2)
        for k in ("warmup", "trace_requests", "untraced_requests", "requests"):
            self.assertNotEqual([r["json"] for r in a[k]],
                                [r["json"] for r in b[k]], k)
        orders = {tuple(spec("pipeline", s)["queries"]) for s in range(1, 6)}
        self.assertGreater(len(orders), 1)
        for o in orders:
            self.assertEqual(sorted(o), sorted(run.PIPELINE))

    def test_no_request_repeats(self):
        s = spec("jx_service", 3)
        bodies = [r["json"] for k in ("warmup", "trace_requests",
                                      "untraced_requests", "requests")
                  for r in s[k]]
        self.assertEqual(len(bodies), len(set(bodies)))

    def test_every_template_in_every_pass(self):
        s = spec("jx_service", 4)
        n = len(jxgen.TEMPLATES)
        for i in range(0, len(s["requests"]) - n + 1, n):
            self.assertEqual({r["template"] for r in s["requests"][i:i + n]},
                             {t.__name__ for t in jxgen.TEMPLATES})


class StatsTest(unittest.TestCase):
    def test_percentile_rule(self):
        # nearest rank: p95 of 200 samples is the 190th, 10 lie beyond
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertIsNone(stats.tail_percentile(39))
        for n in range(1, 3000, 7):
            p = stats.tail_percentile(n)
            if p is not None:
                self.assertGreaterEqual(stats.beyond(n, p), 10)

    def test_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)

    def test_union_and_self_time(self):
        self.assertEqual(stats.union_length([(1, 3), (2, 4), (6, 7)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        # children overlap each other and stick out of the parent
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]),
                         5)
        self.assertEqual(stats.self_time((0, 10), [(-5, 20)]), 0)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_layer_self_times_partition_the_operation(self):
        ops = [{"start": 0.0, "end": 100.0}]
        spans = [{"op": 0, "layer": "queries", "start": 0, "end": 40},
                 {"op": 0, "layer": "catalyst", "start": 5, "end": 15},
                 {"op": 0, "layer": "exec", "start": 10, "end": 30},
                 {"op": 0, "layer": "exec", "start": 50, "end": 60}]
        self_ms = metrics.layer_self_ms(spans, ops)
        self.assertEqual(self_ms, {"exec": 30, "catalyst": 5, "stream": 0,
                                   "queries": 15, "op": 50})
        self.assertEqual(sum(self_ms.values()), 100)


class OracleRulesTest(unittest.TestCase):
    def test_relative_float_tolerance(self):
        cols = ["k", "v"]
        self.assertIsNone(oracle.compare([("a", 1e12 + 1e-1)], cols,
                                         [("a", 1e12)], cols))
        self.assertIsNotNone(oracle.compare([("a", 1.001)], cols,
                                            [("a", 1.0)], cols))

    def test_cube_flattens_to_rows(self):
        resp = json.dumps({"edges": ["a", "b"],
                           "domains": [["x", "y"], [1, 2, 3]],
                           "data": {"n": [[1, 2, 3], [4, 5, 6]]}})
        rows, cols = oracle.flatten(resp)
        self.assertEqual(cols, ["a", "b", "n"])
        self.assertEqual(rows, [("x", 1, 1), ("x", 2, 2), ("x", 3, 3),
                                ("y", 1, 4), ("y", 2, 5), ("y", 3, 6)])

    def test_list_rows_missing_null_fields(self):
        resp = json.dumps({"data": [{"k": 1}, {"k": 2, "v": 3.0}]})
        rows, cols = oracle.flatten(resp)
        self.assertEqual(cols, ["k", "v"])
        self.assertEqual(rows, [(1, None), (2, 3.0)])

    def test_dates_compare_as_epoch_ms(self):
        import datetime
        self.assertEqual(oracle._norm(datetime.date(2024, 1, 20)),
                         oracle._norm("2024-01-20T00:00:00.000Z"))
        self.assertEqual(oracle._norm(datetime.datetime(2024, 1, 20)),
                         1705708800000)


@unittest.skipUnless(os.path.exists(os.path.join(SF001, "lineitem.parquet")),
                     "no sf0.01 data")
class ServiceAcceptanceTest(unittest.TestCase):
    """Every template's requests parse, are accepted by the service, and
    their SQL twins run in DuckDB and agree with the responses."""

    def test_requests_accepted_and_twins_agree(self):
        reqs = []
        for seed in (1, 2, 3):
            reqs += jxgen.requests(seed, "v", 2 * len(jxgen.TEMPLATES))
        cp = run.build()
        with tempfile.TemporaryDirectory() as d:
            inp, out = os.path.join(d, "in.json"), os.path.join(d, "out")
            with open(inp, "w") as f:
                json.dump([{"id": r["id"], "json": r["json"]} for r in reqs],
                          f)
            subprocess.run(
                ["java"] + [x for p in run.JDK_OPENS for x in
                            ("--add-opens", f"{p}=ALL-UNNAMED")] +
                ["-Xmx2g", f"-Djava.io.tmpdir={d}", "-cp", cp,
                 "perfbench.Validate", SF001, inp, out],
                cwd=d, check=True, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=600)
            with open(out) as f:
                got = [json.loads(l) for l in f]
        con = oracle.connect(SF001)
        self.assertEqual(len(got), len(reqs))
        for r, g in zip(reqs, got):
            self.assertNotIn("error", g, r["json"])
            self.assertIsNone(
                oracle.check_response(con, g["response"], r["sql"]),
                f"{r['template']}: {r['json']}")


if __name__ == "__main__":
    unittest.main()
