"""The benchmark's own tests (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

- the same seed gives identical inputs and manifest, another seed not;
- the metric names printed are exactly those in BENCHMARK.json;
- percentile, tail selection and tracing overhead on known samples.
"""

import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402

ROOT = os.path.dirname(run.HERE)


def tree_digest(top):
    """Hash of every file under `top`: relative path, mtime, content."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(top)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, top).encode())
            h.update(str(int(os.stat(p).st_mtime)).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def relative(spec, work):
    return json.loads(json.dumps(spec).replace(work, "WORK"))


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _gen(self, workload, seed, name):
        work = os.path.join(self.tmp, name)
        spec, man = gen.generate(workload, seed, work)
        return work, spec, man

    def test_same_seed_same_inputs_and_manifest(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, spec_a, man_a = self._gen(w, 7, w + "-a")
                b, spec_b, man_b = self._gen(w, 7, w + "-b")
                self.assertEqual(man_a, man_b)
                self.assertEqual(relative(spec_a, a), relative(spec_b, b))
                self.assertEqual(tree_digest(a), tree_digest(b))
                c, _, man_c = self._gen(w, 8, w + "-c")
                self.assertNotEqual(man_a["digest"], man_c["digest"])
                for d in (a, b, c):
                    shutil.rmtree(d)

    def test_fs_manifest_counts(self):
        plan = gen.fs_tree_plan(3, 0, 2000)
        exp = gen.fs_expected(plan)
        n, n_new = 2000, len(plan["create"])
        self.assertEqual(exp["two_phase"]["hashed"], 100)  # 5 % collide on size
        self.assertEqual(exp["two_phase"]["shared_hashed"], 50)  # half are true duplicates
        self.assertEqual(exp["incremental"]["checksummed"], n_new + len(plan["modify"]))
        self.assertEqual(exp["cleanup"]["totalChecked"], n + n_new)
        sizes = [f[2] for f in plan["files"]]
        self.assertEqual(sum(1 for s in sizes if sizes.count(s) > 1), 100)


class MetricNames(unittest.TestCase):
    def test_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertEqual(bench["command"][1:], ["perfbench/run.py"])

    def test_evaluate_prints_every_metric(self):
        for w, res, man in synthetic_results():
            for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                with self.subTest(workload=w, trace=trace):
                    _, failed, problems, metrics, _ = run.evaluate(w, res, man, trace)
                    self.assertEqual(problems, [])
                    self.assertEqual(failed, 0)
                    self.assertEqual(list(metrics), [n for n, _ in names])

    def test_evaluate_flags_a_wrong_count(self):
        w, res, man = synthetic_results()[0]
        res["observed"]["trees"][0]["cleanup"]["deletedFiles"] += 1
        _, failed, problems, _, _ = run.evaluate(w, res, man, 0)
        self.assertEqual(failed, 1)
        self.assertEqual(len(problems), 1)


class Percentiles(unittest.TestCase):
    def test_percentile_known_samples(self):
        xs = list(range(1, 11))
        self.assertEqual(run.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(run.percentile(xs, 90), 9.1)
        self.assertEqual(run.percentile(xs, 100), 10)
        self.assertEqual(run.percentile(xs, 0), 1)
        self.assertEqual(run.percentile([4.0], 75), 4.0)
        self.assertEqual(run.percentile([3, 1, 2], 50), 2)

    def test_tail_selection(self):
        self.assertEqual(run.min_ops_for(75), 40)
        self.assertEqual(run.min_ops_for(80), 50)
        self.assertEqual(run.min_ops_for(90), 100)
        self.assertEqual(run.min_ops_for(99), 1000)
        self.assertEqual(run.min_ops_for(100), 1)
        # the api_search tail has ten samples beyond it at the count a run reaches
        self.assertLessEqual(run.min_ops_for(run.TAIL_PCT["api_search"]), gen.API_MIN_OPS)
        xs = list(range(gen.API_MIN_OPS))
        tail = run.percentile(xs, run.TAIL_PCT["api_search"])
        self.assertGreaterEqual(sum(1 for x in xs if x > tail), 10)

    def test_tail_needs_enough_requests(self):
        w, res, man = synthetic_results()[1]
        need = run.min_ops_for(run.TAIL_PCT[w])
        res["ops"] = res["ops"][:need - 1]  # one request short
        _, _, problems, _, _ = run.evaluate(w, res, man, 0)
        self.assertEqual(len(problems), 1)

    def test_overhead_compares_within_each_kind(self):
        # medians: kind a 10 -> 12.1 (x 1.21), kind b 100 -> 100 (x 1.0)
        ops = ([{"kind": "a", "ms": ms, "traced": False} for ms in (9, 10, 11)]
               + [{"kind": "a", "ms": ms, "traced": True} for ms in (11, 12.1, 99)]
               + [{"kind": "b", "ms": ms, "traced": False} for ms in (90, 110)]
               + [{"kind": "b", "ms": ms, "traced": True} for ms in (100, 100)]
               + [{"kind": "c", "ms": 5, "traced": False}])  # no traced sample: left out
        self.assertAlmostEqual(run.overhead_pct(ops), 10.0)
        self.assertEqual(run.overhead_pct([{"kind": "a", "ms": 1, "traced": False}]), 0.0)


def synthetic_results():
    """A passing JVM result for each workload, shaped like the real one."""
    plan = gen.fs_tree_plan(1, 0, 400)
    exp = gen.fs_expected(plan)
    exp["sample_sha256"] = ["ab"] * 3
    exp["bytes"] = 1 << 20
    tree_obs = json.loads(json.dumps(exp))
    fs_ops = [{"kind": k, "ms": 1000.0 + i, "files": 400, "traced": False}
              for i, k in enumerate(("full", "two_phase", "incremental", "cleanup"))]
    layers = {n: 1.0 for n, _ in run.PER_LAYER}
    fs = ("fs_index",
          {"setup_s": 1.0, "peak_live_mb": 2.0, "ops": fs_ops, "layers": layers,
           "observed": {"trees": [tree_obs]}},
          {"trees": [exp]})
    api_ops = [{"kind": "stats", "req": 0, "ms": 10.0 + i, "status": 200, "traced": False,
                "fields": {"total_files": "5", "duplicate_groups": "1", "duplicate_files": "2"}}
               for i in range(gen.API_MIN_OPS)]
    api = ("api_search",
           {"setup_s": 1.0, "peak_live_mb": 2.0, "ops": api_ops, "layers": layers,
            "wall_s": 4.0},
           {"requests": [{"total_files": 5, "duplicate_groups": 1, "duplicate_files": 2}]})
    stream = ("stream_dedup",
              {"setup_s": 1.0, "peak_live_mb": 2.0, "layers": layers,
               "ops": [{"kind": "batch", "batch": b, "ms": 100.0, "docs": 4, "traced": False}
                       for b in range(3)],
               "observed": {"batches": [{"batch": b, "docs": 4, "kept": 2, "distinct": 4}
                                        for b in range(3)]}},
              {"docs": [4] * 3, "kept": [2] * 3})
    return [fs, api, stream]


if __name__ == "__main__":
    unittest.main()
