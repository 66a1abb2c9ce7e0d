"""Tests of the benchmark's own pieces. Run: python3 -m unittest discover perfbench/tests"""
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")


def tree_digest(root):
    """Content digest of every file under root, with the root itself
    stripped from the spec so two directories can be compared."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                data = fh.read()
            if f == "spec.json":
                data = data.replace(root.encode(), b"<root>")
            out[os.path.relpath(p, root)] = hashlib.sha256(data).hexdigest()
    return out


def ops(ms, ok=True):
    return {"ops": [{"ms": m, "ok": ok} for m in ms]}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([5.0], 50), 5.0)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0), 1)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 100), 4)
        self.assertAlmostEqual(stats.percentile(list(range(1, 101)), 90), 90.1)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.highest_supported_percentile(39))
        self.assertEqual(stats.highest_supported_percentile(40), 75)
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(200), 95)
        self.assertEqual(stats.highest_supported_percentile(1000), 99)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.highest_supported_percentile(99, (90,)))
        self.assertEqual(stats.highest_supported_percentile(100, (90,)), 90)


class EndToEndTest(unittest.TestCase):
    def test_sample_counts_and_values(self):
        phase = ops([100.0, 200.0, 300.0])
        phase["ops"].append({"ms": 400.0, "ok": False})
        m = stats.end_to_end(phase, [3.0, 1.0, 2.0], 512.0, clients=2)
        self.assertEqual(m["setup_s"], (2.0, "s", 3))
        self.assertEqual(m["latency_p50_ms"], (200.0, "ms", 3))
        # 3 verified ops over (1000 ms of busy time / 2 clients)
        self.assertEqual(m["ops_per_s"], (6.0, "1/s", 3))
        self.assertEqual(m["peak_rss_mb"], (512.0, "MiB", 1))

    def test_all_failed_still_reports_latency(self):
        m = stats.end_to_end(ops([10.0, 30.0], ok=False), [1.0], 1.0, clients=1)
        self.assertEqual(m["ops_per_s"][0], 0.0)
        self.assertEqual(m["latency_p50_ms"], (20.0, "ms", 2))

    def test_no_op_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.end_to_end({"ops": []}, [1.0], 1.0, clients=1)


class GeneratorTest(unittest.TestCase):
    def generate(self, workload, seed):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        gen.generate(workload, seed, d.name)
        return tree_digest(d.name)

    def test_same_seed_same_inputs(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a, b = self.generate(w, 7), self.generate(w, 7)
                self.assertTrue(a)
                self.assertEqual(a, b)

    def test_other_seed_other_inputs(self):
        a, b = self.generate("warehouse_bi", 7), self.generate("warehouse_bi", 8)
        self.assertEqual(a.keys(), b.keys())
        self.assertNotEqual(a["lake/orders.parquet"], b["lake/orders.parquet"])
        self.assertNotEqual(a["spec.json"], b["spec.json"])

    def test_zipf_sequence_holds_the_mix_in_short_windows(self):
        w = gen.zipf_weights(len(gen.BI_QUERIES), gen.MIX["zipf_s"])
        seq = gen.zipf_sequence(w, 600)
        for start in (0, 137, 400):
            window = seq[start:start + 60]
            self.assertAlmostEqual(window.count(0) / 60, w[0], delta=0.05)

    def test_injected_duplicates_follow_their_originals(self):
        vocab = gen.vocabulary(gen.rng_for(3, "vocab"), 500)
        docs, emb, meta = gen.corpus_shard(3, 0, vocab)
        self.assertEqual(meta["docs"], docs.num_rows)
        self.assertTrue(all(i >= meta["originals"] for i in meta["injected_ids"]))
        self.assertEqual(len(meta["top10"]), meta["queries"])
        self.assertTrue(all(len(t) == 10 for t in meta["top10"]))
        # exact copies make fewer distinct texts than documents
        self.assertLess(meta["distinct_texts"], meta["docs"])


class MetricNameTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(BENCHMARK_JSON) as f:
            cls.bench = json.load(f)
        cls.e2e, cls.layers = stats.declared(BENCHMARK_JSON)

    def test_declared_names_are_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, stats.NAME)

    def test_workloads_are_the_generated_ones(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(gen.GENERATORS))

    def test_end_to_end_names_are_declared(self):
        m = stats.end_to_end(ops([1.0, 2.0]), [1.0], 1.0, clients=1)
        stats.check_names({k: {"value": v, "unit": u} for k, (v, u, _) in m.items()}, self.e2e)

    def test_per_layer_names_are_declared(self):
        # the JVM emits the per-layer names listed in Layers (Main.scala)
        with open(os.path.join(BENCH, "scala", "graftbench", "Main.scala")) as f:
            src = f.read()
        body = src[src.index("object Layers"):]
        emitted = set(re.findall(r'"([A-Za-z0-9_.]+)" ->', body))
        busy = re.search(r"BusyLayers = Seq\((.*?)\)", body, re.S).group(1)
        emitted |= {f"{n}.busy_s" for n in re.findall(r'"([A-Za-z0-9_.]+)"', busy)}
        emitted.add("trace.overhead_pct")
        self.assertEqual(emitted, set(self.layers))

    def test_check_names_rejects(self):
        decl = {"a_ms": "ms"}
        stats.check_names({"a_ms": {"value": 1, "unit": "ms"}}, decl)
        for bad in ({"b": {"value": 1, "unit": "ms"}, "a_ms": {"value": 1, "unit": "ms"}},
                    {},
                    {"a_ms": {"value": 1, "unit": "s"}},
                    {"a ms": {"value": 1, "unit": "ms"}}):
            with self.assertRaises(ValueError):
                stats.check_names(bad, decl)

    def test_bounds(self):
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.bench["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
