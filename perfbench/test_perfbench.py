"""Self-tests of the benchmark.

    python3 perfbench/test_perfbench.py            # all, about 2-3 minutes
    PERFBENCH_QUICK=1 python3 perfbench/test_perfbench.py   # no JVM

The JVM tests build the harness first (as a benchmark run does).
"""
import json
import math
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import pools  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

QUICK = os.environ.get("PERFBENCH_QUICK") == "1"
TWINS = ["q187_dist_unbounded_witness", "q188_dist_hetero_klevel_witness",
         "q189_dist_allshortest_witness"]


class Pools(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in pools.WORKLOADS:
            self.assertEqual(pools.warmup_order(w, 7), pools.warmup_order(w, 7))
            self.assertEqual(pools.sequence(w, 7), pools.sequence(w, 7))
            self.assertNotEqual(pools.sequence(w, 7), pools.sequence(w, 8))

    def test_pools_disjoint_and_without_duplicates(self):
        seen = set()
        for w, spec in pools.WORKLOADS.items():
            names = spec["queries"]
            self.assertEqual(len(names) % 2, 1, w)
            self.assertEqual(len(names), len(set(names)), w)
            self.assertFalse(seen & set(names), w)
            seen |= set(names)

    def test_every_pass_runs_the_whole_pool(self):
        for w, spec in pools.WORKLOADS.items():
            names = spec["queries"]
            self.assertEqual(sorted(pools.warmup_order(w, 3)), sorted(names))
            seq = pools.sequence(w, 3)
            self.assertEqual(len(seq), spec["passes"] * len(names))
            for i in range(spec["passes"]):
                self.assertEqual(sorted(seq[i * len(names):(i + 1) * len(names)]), sorted(names))

    def test_distributed_twins_are_in_iterative(self):
        self.assertTrue(set(TWINS) <= set(pools.WORKLOADS["iterative"]["queries"]))


class Stats(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990, 10))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10, 10))
        p, v, beyond = stats.tail(list(range(1, 26)))
        self.assertEqual((p, v, beyond), (60.0, 15, 10))
        for n in range(11, 2000, 7):
            p, v, beyond = stats.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10)
            # the next percentile on the grid has fewer than 10 beyond it
            self.assertLess(n - math.ceil(round(p + 0.1, 1) / 100.0 * n), 10)

    def test_tail_without_enough_samples_is_the_minimum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (0.0, 1.0, 2))

    def test_self_time_of_nested_spans(self):
        spans = [
            {"id": 0, "parent": -1, "start_us": 0, "end_us": 100},
            {"id": 1, "parent": 0, "start_us": 10, "end_us": 40},
            {"id": 2, "parent": 1, "start_us": 15, "end_us": 25},
            {"id": 3, "parent": 0, "start_us": 35, "end_us": 60},  # overlaps 1
            {"id": 4, "parent": 0, "start_us": 90, "end_us": 120},  # runs past 0
        ]
        self.assertEqual(stats.self_times(spans), {0: 100 - 50 - 10, 1: 20, 2: 10, 3: 25, 4: 30})

    def test_covered_merges_overlaps(self):
        self.assertEqual(stats.covered((0, 10), [(2, 4), (3, 6), (8, 20), (-5, 1)]), 7)


class Attribution(unittest.TestCase):
    def out(self):
        span = lambda i, parent, name, a, b: {"id": i, "parent": parent, "op": 0, "name": name,
                                              "start_us": a, "end_us": b}
        return {
            "cores": 4, "session_s": 1.0, "warmup_s": 2.0,
            "ops": [{"id": 0, "name": "q", "ok": True, "start_us": 0, "end_us": 1000,
                     "gc_ms": 2, "conf_changed": False, "storage_files": 1,
                     "storage_bytes": 10, "result_rows": 5, "plan_nodes": 7,
                     "exchanges": 1, "smj": 0, "broadcasts": 1}],
            "spans": [span(0, -1, "op", 0, 1000), span(1, 0, "ops.build", 0, 600),
                      span(2, 0, "catalyst.optimize", 600, 650),
                      span(3, 0, "catalyst.plan", 650, 700), span(4, 0, "exec", 700, 990)],
            # job 1 tagged by build; job 2 untagged but starts inside exec
            "jobs": [{"job": 1, "start_us": 100, "stages": [10], "spans": [0, 1]},
                     {"job": 2, "start_us": 750, "stages": [11, 12], "spans": []}],
            "job_ends": [{"job": 1, "end_us": 300}, {"job": 2, "end_us": 950}],
            "stages": [{"stage": 10, "tasks": 4, "task_ms": 8, "cpu_ns": 10**6,
                        "shuffle_bytes": 0, "spill_bytes": 0},
                       {"stage": 12, "tasks": 2, "task_ms": 400, "cpu_ns": 3 * 10**8,
                        "shuffle_bytes": 64, "spill_bytes": 0}],
            "triggers": [],
        }

    def test_jobs_go_to_the_innermost_span(self):
        m = metrics.per_layer(self.out())
        self.assertEqual(m["ops.build.jobs"], 1)
        self.assertAlmostEqual(m["ops.build.job_s"], 200e-6)
        self.assertAlmostEqual(m["ops.build.driver_s"], 400e-6)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual((m["exec.stages"], m["exec.tasks"]), (1, 2))
        self.assertAlmostEqual(m["exec.task_s"], 0.4)
        self.assertAlmostEqual(m["exec.core_util"], 0.4 / (290e-6 * 4))
        self.assertAlmostEqual(m["op.self_s"], 10e-6)
        self.assertEqual(set(m), {n for n, _, _ in metrics.PER_LAYER})


class Oracle(unittest.TestCase):
    def test_comparison_rules(self):
        import pandas as pd
        a = pd.DataFrame({"b": [1.5, 2.0], "a": [1, 2]})
        self.assertIsNone(oracle.compare(a, a[["a", "b"]].copy()))
        self.assertIn("rows", oracle.compare(a, a.head(1)))
        self.assertIn("columns", oracle.compare(a, a.rename(columns={"b": "c"})))
        self.assertIn("b", oracle.compare(a, a.assign(b=[1.5, 2.0000001])))
        self.assertIn("a", oracle.compare(a, a.assign(a=[1.0, 2.0])))  # int vs float
        self.assertIn("a", oracle.compare(a, a.iloc[::-1]))  # order matters

    def test_an_uncomparable_column_is_a_mismatch(self):
        import pandas as pd
        naive = pd.DataFrame({"t": pd.to_datetime(["2024-01-01"]), "x": [1]})
        aware = naive.assign(t=naive.t.dt.tz_localize("UTC"))
        reason = oracle.compare(aware, naive)  # the comparison itself raises
        self.assertIsNotNone(reason)
        self.assertIn("t [datetime64[ns, UTC] vs datetime64[ns]]", reason)


class Data(unittest.TestCase):
    # sha256 prefixes of `digest` over the seed-42 test fixtures (TESTDATA.md)
    FIXTURES = {
        0.001: {"region": "e33f718a98a4d2a0", "nation": "c972a1cf240839a1",
                "customer": "17ab938be3704854", "supplier": "1739ee23102e15d9",
                "part": "daef757ec9588ec7", "orders": "c9c3fed7e5870ca6",
                "lineitem": "f5015dbdb47e4147", "events": "9b44e43c5b9b2396",
                "documents": "da59e9c41aef2a16", "embeddings": "839710d154037da0"},
        0.01: {"region": "e33f718a98a4d2a0", "nation": "c972a1cf240839a1",
               "customer": "9b304a6a80e3b1b2", "supplier": "90c25b6c492aa122",
               "part": "b98207632ee4a810", "orders": "dcc8f22909f7bcba",
               "lineitem": "1345f2269f8ebff2", "events": "1ffad3c5b5bd6f83",
               "documents": "d62aadb3104d56e6", "embeddings": "92da484a89d49b55"},
    }

    @staticmethod
    def digest(path):
        """Schema and every value of a parquet table, in row order."""
        import hashlib
        import pyarrow as pa
        import pyarrow.parquet as pq
        t = pq.read_table(path)
        h = hashlib.sha256()
        for f in t.schema:
            typ = f"list<{f.type.value_type}>" if pa.types.is_list(f.type) else str(f.type)
            h.update(f"{f.name}:{typ}\n".encode())
            h.update(repr(t.column(f.name).to_pylist()).encode())
        return h.hexdigest()[:16]

    def test_generator_reproduces_the_fixtures(self):
        with tempfile.TemporaryDirectory() as d:
            for sf, want in self.FIXTURES.items():
                out = os.path.join(d, f"sf{sf}")
                datagen.generate(out, sf)
                got = {t: self.digest(os.path.join(out, f"{t}.parquet")) for t in want}
                self.assertEqual(got, want, sf)


class BenchmarkFile(unittest.TestCase):
    def test_lists_match_the_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(pools.WORKLOADS))
        units = dict(metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         [(n, units[n]) for n in metrics.GATED])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)


@unittest.skipIf(QUICK, "PERFBENCH_QUICK=1")
class Jvm(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        run.build()

    def harness(self, mode, data, names=()):
        run_dir = tempfile.mkdtemp(prefix="selftest-", dir=run.WORK)
        try:
            spec = {"mode": mode, "data": data, "run_dir": run_dir,
                    "out": os.path.join(run_dir, "out.json"), "cores": run.cores(),
                    "trace": False, "pool": list(names),
                    "sequence": []}
            _, out = run.launch(spec, run_dir)
            if mode == "parity":
                return out
            return out, oracle.check(data, os.path.join(run_dir, "results"), names,
                                     out["oracle_sql"], deadline=time.time() + 600,
                                     spill_dir=os.path.join(run_dir, "duckdb"))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    def test_copied_cypher_texts_match_spark_entry(self):
        out = self.harness("parity", run.data_dir(0.001))
        self.assertEqual(out["mismatched"], [])
        self.assertEqual(out["checked"], 23)

    def test_every_pool_query_passes_the_oracle(self):
        for w, spec in pools.WORKLOADS.items():
            out, verdicts = self.harness("run", run.data_dir(spec["sf"]), spec["queries"])
            self.assertEqual({x["name"]: x.get("error") for x in out["warmup"] if not x["ok"]}, {}, w)
            self.assertEqual({n: v for n, v in verdicts.items() if v}, {}, w)

if __name__ == "__main__":
    unittest.main(verbosity=2)
