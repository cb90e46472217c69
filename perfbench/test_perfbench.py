"""The benchmark's own tests (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import re
import shutil
import tempfile
import unittest

import gen
import run


def _tmp():
    base = os.path.join(run.HERE, ".work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def _same_tree(a, b):
    """Byte-identical directory trees."""
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = _tmp()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def gen_domain(self, name, seed, batch_seed=None):
        return gen.domain(os.path.join(self.dir, name), seed,
                          seed if batch_seed is None else batch_seed, 1500, 30, 2)

    def test_domain_csvs_are_byte_identical_per_seed(self):
        m1 = self.gen_domain("a", 7)
        m2 = self.gen_domain("b", 7)
        self.gen_domain("c", 8)
        d = self.dir
        self.assertTrue(_same_tree(os.path.join(d, "a"), os.path.join(d, "b")))
        self.assertFalse(_same_tree(os.path.join(d, "a"), os.path.join(d, "c")))
        self.assertEqual(m1["top1pct_leg_share"], m2["top1pct_leg_share"])

    def test_batch_seed_draws_only_the_batches(self):
        self.gen_domain("a", 7, 1)
        self.gen_domain("b", 7, 2)
        a, b = (os.path.join(self.dir, n) for n in ("a", "b"))
        self.assertTrue(_same_tree(os.path.join(a, "history"), os.path.join(b, "history")))
        for side in ("prices.csv", "rugpulls.csv"):
            self.assertTrue(filecmp.cmp(os.path.join(a, side), os.path.join(b, side), shallow=False))
        self.assertFalse(_same_tree(os.path.join(a, "batch_01"), os.path.join(b, "batch_01")))

    def test_events_csvs_are_byte_identical_per_seed(self):
        for name, seed in (("a", 3), ("b", 3), ("c", 4)):
            gen.events(os.path.join(self.dir, name), seed, 500)
        d = self.dir
        self.assertTrue(_same_tree(os.path.join(d, "a"), os.path.join(d, "b")))
        self.assertFalse(_same_tree(os.path.join(d, "a"), os.path.join(d, "c")))

    def test_domain_shape(self):
        m = self.gen_domain("a", 1)
        names = [x["name"] for x in m["deliveries"]]
        self.assertEqual(names, ["history", "batch_01", "batch_02"])
        # batches are contiguous block ranges after the history
        for prev, cur in zip(m["deliveries"], m["deliveries"][1:]):
            self.assertEqual(cur["first_block"], prev["last_block"] + 1)
        # hashed addresses fill the 256 address partitions; the hubs carry
        # a skewed share of the legs
        parts = {gen._addr(1, "w", i)[2:4] for i in range(5000)}
        self.assertEqual(len(parts), 256)
        self.assertGreater(m["top1pct_leg_share"], 0.2)
        # the edge rows are present
        with open(os.path.join(self.dir, "a", "history", "traces.csv")) as f:
            traces = f.read()
        self.assertIn(",reward,", traces)
        self.assertIn(",delegatecall,", traces)
        self.assertIn("1" + "0" * 40, traces)
        with open(os.path.join(self.dir, "a", "history", "tokens_metadata.csv")) as f:
            tokens = [line.split(",")[0] for line in f.readlines()[1:]]
        self.assertLess(len(set(tokens)), len(tokens))


class MetricNamesTest(unittest.TestCase):
    """Every metric the benchmark prints is declared in BENCHMARK.json,
    and every declared metric is one PerfBench.scala produces."""

    spec = run.bench_spec()

    def produced_names(self):
        with open(os.path.join(run.HERE, "scala", "PerfBench.scala")) as f:
            src = f.read()

        def strings(val):
            body = re.search(rf"val {val}: Seq\[String\] =(.*?)\)\n", src, re.S).group(1)
            return re.findall(r'"([a-z_]+)"', body)

        layer = {f"{l}.{m}" for l in strings("Layers") for m in strings("LayerMetrics")}
        ratios = set(re.findall(r'"((?:stage|features|quality|maintain)\.[a-z_]+)" ->', src))
        if 's"$l.replay_s"' in src:  # every layer but session and maintain
            ratios |= {f"{l}.replay_s" for l in strings("Layers")
                       if l not in ("session", "maintain")}
        e2e = set(re.findall(r'"([a-z_]+)" -> ', src))
        return layer | ratios, e2e

    def test_declared_metrics_are_produced(self):
        layer, e2e = self.produced_names()
        for m in self.spec["per_layer"]:
            self.assertIn(m["name"], layer)
        for m in self.spec["end_to_end"]:
            if m["name"] != "setup_s":  # measured by run.py around the JVM
                self.assertIn(m["name"], e2e)

    def test_printed_metrics_are_declared(self):
        fake = {"correct": True, "attempted": 1, "failed": 0, "setup_s": 1.0,
                "metrics": {m["name"]: 1.0 for m in self.spec["end_to_end"]}}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rep, _ = run.report(fake, trace, self.spec)
            self.assertEqual(set(rep["metrics"]), {m["name"] for m in self.spec[key]})
            json.dumps(rep)

    def test_committed_records_cover_the_declared_metrics(self):
        for w in self.spec["workloads"]:
            path = os.path.join(run.HERE, "results", f"{w['name']}.json")
            with open(path) as f:
                rec = json.load(f)
            for m in self.spec["per_layer"]:
                self.assertIn(m["name"], rec["layer_metrics"])
            self.assertTrue(rec["coverage_ok"])
            self.assertEqual(rec["failures"], [])


if __name__ == "__main__":
    unittest.main()
