"""The benchmark's own tests: input generation, metric naming, percentile
reporting rules and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL = dict(sf=0.001, lake_cycles=2, lake_base_rows=500, lake_batch_rows=50)


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def files_under(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen(self, name, seed):
        out = os.path.join(self.tmp, name)
        gen.generate(out, seed, **SMALL)
        return out

    def test_same_seed_gives_byte_identical_output(self):
        a, b = self.gen("a", 7), self.gen("b", 7)
        self.assertEqual(files_under(a), files_under(b))
        for f in files_under(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_different_seed_gives_different_output(self):
        a, b = self.gen("a", 7), self.gen("b", 8)
        differ = [f for f in files_under(a)
                  if not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)]
        self.assertIn("lineitem.parquet", differ)
        self.assertIn("documents.parquet", differ)
        self.assertIn(os.path.join("lake", "ops.json"), differ)

    def test_lake_stream_holds_whole_cycles(self):
        with open(os.path.join(self.gen("a", 5), "lake", "ops.json")) as f:
            s = json.load(f)
        self.assertEqual(len(s["ops"]), s["warmup_len"] + SMALL["lake_cycles"] * s["cycle_len"])

    def test_value_domains(self):
        import pyarrow.parquet as pq
        d = self.gen("a", 3)
        li = pq.read_table(f"{d}/lineitem.parquet").to_pydict()
        self.assertTrue(all(round(v, 2) == v for v in li["l_extendedprice"]))
        self.assertEqual(str(pq.read_schema(f"{d}/events.parquet").field("ts").type),
                         "timestamp[us]")
        docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
        self.assertTrue(set(docs["lang"]) <= set(gen.LANGS))
        words = {w for t in docs["text"] for w in t.split()}
        self.assertTrue(words <= set(gen.VOCAB) | {"dup"})
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()["embedding"]
        self.assertTrue(all(len(v) == gen.EMB_DIM for v in emb))

    @unittest.skipUnless(os.environ.get("PERFBENCH_FIXTURES"),
                         "set PERFBENCH_FIXTURES to a directory of sf0.1 fixture tables")
    def test_sf01_schemas_and_row_counts_match_the_fixtures(self):
        import pyarrow.parquet as pq
        ref = os.environ["PERFBENCH_FIXTURES"]
        out = os.path.join(self.tmp, "sf01")
        gen.generate(out, 1, sf=0.1)
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            mine, theirs = pq.read_metadata(f"{out}/{t}.parquet"), pq.read_metadata(f"{ref}/{t}.parquet")
            self.assertTrue(mine.schema.to_arrow_schema().remove_metadata().equals(
                theirs.schema.to_arrow_schema().remove_metadata()), t)
            self.assertEqual(mine.num_rows, theirs.num_rows, t)


class MetricTest(unittest.TestCase):
    def test_benchmark_metric_names_are_well_formed(self):
        bench = load_benchmark()
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bench[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual({m["name"] for m in bench["workloads"]} - set(run.WORKLOADS), set())
        self.assertEqual({m["name"] for m in bench["end_to_end"]}, set(run.E2E_UNITS))

    def test_per_layer_names_match_what_a_traced_run_reports(self):
        bench = load_benchmark()
        rec = {"trace": {"counts": {}, "self_s": {}, "driver_gap_s": 0.0}, "extra": {}}
        reported = run.layer_metrics("interactive_sql", rec, [op(1, 0.5, traced=True)])
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(reported))
        for m in bench["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]), m["name"])

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile([1.0] * 19, 0.5))
        self.assertEqual(run.percentile([1.0] * 20, 0.5), 1.0)
        self.assertIsNone(run.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(run.percentile(list(range(100)), 0.9))

    def test_report_prints_the_sample_count(self):
        ops = [op(i, 0.1 * (i + 1)) for i in range(25)]
        rec = {"setup_s": 1.0, "peak_rss_mb": 100.0}
        m = run.report_metrics("interactive_sql", rec, ops, None, 0)
        self.assertEqual(m["query_p50_s"][2], 25)
        self.assertIsNotNone(m["query_p50_s"][0])
        self.assertIsNone(m["query_p90_s"][0])  # 25 samples leave 2.5 beyond p90


def op(req, seconds, ok=True, traced=False, kind="lane"):
    return {"req": req, "kind": kind, "name": "q", "start_ms": 1000.0 * req,
            "end_ms": 1000.0 * req + seconds * 1000, "wall_ms": seconds * 1000, "ok": ok,
            "traced": traced, "user_bytes": 0, "error": "" if ok else "boom"}


class FailureAccountingTest(unittest.TestCase):
    def test_failed_op_counts_in_failed_ratio_and_never_in_latency(self):
        ops = [op(i, 0.5) for i in range(20)] + [op(99, 30.0, ok=False)]
        self.assertEqual(max(run.latencies(ops)), 0.5)
        rec = {"setup_s": 1.0, "peak_rss_mb": 100.0}
        m = run.report_metrics("interactive_sql", rec, ops, None, 0)
        self.assertAlmostEqual(m["failed_ratio"][0], 1 / 21)
        self.assertEqual(m["query_p50_s"][0], 0.5)
        # Throughput counts correct operations only, over all time spent.
        rate = 20 / (20 * 0.5 + 30.0)
        wm = run.window_metrics(ops, [run.CALIBRATION_REF_S])
        self.assertAlmostEqual(wm["ops_per_s"], rate)
        self.assertAlmostEqual(wm["norm_ops_per_s"], rate)

    def test_time_between_operations_counts(self):
        # Engine work left running after an operation returns delays the
        # next one's start; the rate is over wall time, so it counts.
        ops = run.with_wall([op(0, 0.5), op(1, 0.5)], window_end_ms=3000.0)
        self.assertEqual([o["wall_ms"] for o in ops], [1000.0, 2000.0])
        wm = run.window_metrics(ops, [run.CALIBRATION_REF_S])
        self.assertAlmostEqual(wm["ops_per_s"], 2 / 3.0)

    def test_host_speed_scaling(self):
        # A host that runs the calibration loop half as fast gets its
        # measured rate doubled, back to the reference host's scale.
        ops = [op(i, 0.5) for i in range(20)]
        slow = [2 * run.CALIBRATION_REF_S] * 3
        wm = run.window_metrics(ops, slow)
        self.assertAlmostEqual(wm["norm_ops_per_s"], 2 * wm["ops_per_s"])


class ContractTest(unittest.TestCase):
    def test_exits_nonzero_without_a_result_outside_a_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "interactive_sql", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
