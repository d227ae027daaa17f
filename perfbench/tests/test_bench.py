"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The failure-accounting test of the JVM loop compiles the runner first
(perfbench/build.py), which takes about half a minute on a cold build.
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (20, 37, 100, 250, 1000, 5000):
            xs = list(range(n))
            t = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > t), 10, n)
        self.assertAlmostEqual(stats.tail_quantile(100), 0.90)
        self.assertAlmostEqual(stats.tail_quantile(1000), 0.99)

    def test_highest_such_percentile(self):
        # one step higher would leave fewer than ten samples beyond it
        xs = list(range(100))
        self.assertAlmostEqual(stats.tail(xs), 89.1)
        self.assertLess(sum(1 for x in xs if x > stats.percentile(xs, 0.91)), 10)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 2, 5, 19):
            xs = [float(i) for i in range(n)]
            self.assertEqual(stats.tail(xs), stats.median(xs), n)


def _op(i, kind, ms, ok=True, warmup=False):
    return {"id": i, "cycle": 0, "kind": kind, "op": kind, "rows": 1,
            "warmup": warmup, "traced": False, "ok": ok, "ms": ms}


class FailureAccounting(unittest.TestCase):
    def run_record(self, ops):
        return {"ops": ops, "setup_s": [1.0, 2.0, 3.0], "warmup_s": 0.5,
                "loop_s": 10.0, "retained_old_gen_bytes": 2**20}

    def test_thrown_and_wrong_ops_count_and_give_no_sample(self):
        ops = [_op(0, "read", 10.0), _op(1, "read", 1.0, ok=False),
               _op(2, "read", 2.0), _op(3, "write", 30.0),
               _op(4, "write", 40.0), _op(5, "read", 99.0, warmup=True)]
        m = run.end_to_end(self.run_record(ops), bad={2: "wrong output"},
                           recall=1.0)
        # op 1 threw, op 2 failed its check: neither gives a latency
        self.assertEqual(m["read_p50_ms"], 10.0)
        self.assertEqual(m["write_p50_ms"], 35.0)
        self.assertAlmostEqual(m["ok_frac"], 3 / 5)
        self.assertAlmostEqual(m["ops_per_s"], 0.3)
        self.assertEqual(m["setup_s"], 2.5)

    def test_jvm_loop_catches_only_nonfatal(self):
        classes = build.build()
        res = subprocess.run(
            ["java", "-cp", build.runtime_classpath(classes),
             "graft.perfbench.LoopCheck"],
            capture_output=True, text=True, timeout=120)
        # exit 3: the fatal error escaped the loop
        self.assertEqual(res.returncode, 3, res.stderr[-2000:])
        recs = json.loads(res.stdout.strip().splitlines()[-1])
        self.assertEqual([r["ok"] for r in recs], [True, False, True])
        self.assertIn("deliberate", recs[1]["error"])
        self.assertNotIn("out", recs[1])
        m = run.end_to_end(
            {"ops": recs + [dict(_op(9, "write", 5.0), id=9)],
             "setup_s": [1.0], "warmup_s": 0.0, "loop_s": 1.0,
             "retained_old_gen_bytes": 1}, bad={}, recall=1.0)
        self.assertAlmostEqual(m["ok_frac"], 3 / 4)


def scratch():
    """A temporary directory inside the checkout's build directory."""
    os.makedirs(build.OUT, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=build.OUT)


class Generators(unittest.TestCase):
    def snapshot(self, workload, seed, out):
        plan = gen.generate(workload, seed, out)
        rel = json.loads(json.dumps(plan).replace(out, "<out>"))
        files = {}
        for root, _, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    with open(p, "rb") as f:
                        files[os.path.relpath(p, out)] = f.read()
        return rel, files

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in ("reportdb", "corpus", "ann"):
            with scratch() as a, scratch() as b, scratch() as c:
                pa, fa = self.snapshot(w, 5, a)
                pb, fb = self.snapshot(w, 5, b)
                pc, fc = self.snapshot(w, 6, c)
                self.assertEqual(pa, pb, w)
                self.assertEqual(fa, fb, w)
                self.assertNotEqual(fa, fc, w)
                self.assertGreater(pa["input_bytes"], 0)
                self.assertEqual(pa["seed"], 5)

    def test_corpus_plants_pairs_inside_the_corpus(self):
        with scratch() as d:
            plan = gen.generate("corpus", 9, d)
            n = plan["rows"]["documents"]
            self.assertGreater(len(plan["planted"]), 0)
            for a, b in plan["planted"] + plan["exact"]:
                self.assertTrue(0 <= a < b < n)


class CorpusShards(unittest.TestCase):
    def test_a_job_must_pack_every_source(self):
        with scratch() as d:
            plan = gen.generate("corpus", 9, d)
            con = check.duckdb.connect()
            n_exact = con.execute(
                f"SELECT count(DISTINCT md5({check.NORM})) FROM "
                f"read_parquet('{plan['docs']}')").fetchone()[0]
            con.close()
            # a sound dedup that reports no near-duplicate pairs
            dedup = dict(_op(0, "read", 1.0), op="dedup", out={
                "exact_kept": n_exact, "pairs": [], "kept": n_exact})
            thrown = dict(_op(1, "write", 1.0, ok=False), op="pack")
            bad, _ = check.check_corpus(plan, {"ops": [dedup]})
            self.assertIn("miss a source", bad.get(0, ""))
            # a pack that threw is already failed; the dedup is not blamed
            bad, _ = check.check_corpus(plan, {"ops": [dedup, thrown]})
            self.assertNotIn(0, bad)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        as_spec = lambda xs: [{"name": n, "unit": u, "better": b}  # noqa: E731
                              for n, u, b in xs]
        e2e = [{k: m[k] for k in ("name", "unit", "better")}
               for m in spec["end_to_end"]]
        self.assertEqual(e2e, as_spec(stats.END_TO_END))
        self.assertEqual(spec["per_layer"], as_spec(stats.PER_LAYER))
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        ops = [_op(0, "read", 1.0), _op(1, "write", 2.0)]
        m = run.end_to_end({"ops": ops, "setup_s": [1.0], "warmup_s": 0.0,
                            "loop_s": 1.0, "retained_old_gen_bytes": 1},
                           bad={}, recall=1.0)
        self.assertEqual(list(m), [n for n, _, _ in stats.END_TO_END])

    def test_traced_run_prints_the_per_layer_metrics(self):
        phase = {"span": "sim.knn", "op": 0, "wall_ms": 5.0, "tasks": 2,
                 "task_ms": 9, "shuffle_bytes": 100}
        traced = {"ops": [_op(0, "read", 20.0), _op(1, "write", 9.0)],
                  "setup_s": [1.0], "warmup_s": 0.0, "loop_s": 1.0,
                  "retained_old_gen_bytes": 1,
                  "phases": [dict(phase, phase=p) for p in
                             ("construct", "plan", "exec")],
                  "totals": {"gc_ms": 1, "spill_bytes": 0, "peak_exec_mem": 1},
                  "streams": [], "rows_scanned": 10, "rows_written": 1}
        with scratch() as d:
            m = run.per_layer(traced, {}, {"input_bytes": 1}, d, "ann")
        self.assertEqual(list(m), [n for n, _, _ in stats.PER_LAYER])
        self.assertEqual(m["sim.knn.exec_ms"], 5.0)
        self.assertEqual(m["sim.knn.tasks"], 6.0)
        self.assertEqual(m["model.children_closure.exec_ms"], 0.0)


if __name__ == "__main__":
    unittest.main()
