"""Self-tests of the benchmark's own logic.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

Set PERFBENCH_E2E=1 to also run one short ingest run end to end (builds
the library and starts a JVM).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a = gen.corpus(11)
        cls.b = gen.corpus(12)

    def props(self, docs, seed):
        files, history = gen.topic(seed, docs)
        return gen.properties(docs, files, history)

    def test_deterministic_per_seed(self):
        self.assertEqual(gen.corpus(11), self.a)
        self.assertEqual(gen.topic(11, self.a), gen.topic(11, self.a))

    def test_second_seed_keeps_sizes_and_shares(self):
        self.assertNotEqual(self.a["text"], self.b["text"])
        pa, pb = self.props(self.a, 11), self.props(self.b, 12)
        for k in ("docs", "topic_files", "topic_msgs"):
            self.assertEqual(pa[k], pb[k], k)
        self.assertEqual(pa["docs"], gen.BASE_DOCS * gen.REPLICAS)
        for k, tol in (("near_dup_pairs", 0.1), ("distinct_words", 0.1),
                       ("redelivery_share", 0.15), ("history_fps", 0.01)):
            self.assertAlmostEqual(pa[k] / pb[k], 1.0, delta=tol, msg=k)
        for p in (pa, pb):
            self.assertLess(p["exact_dup_share"], 0.01)
            self.assertGreater(p["exact_dup_share"], 0.0)

    def test_replicas_share_no_shingle(self):
        n = gen.BASE_DOCS

        def shingles(t):
            w = t.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
        for i in range(0, n, 97):
            self.assertFalse(shingles(self.a["text"][i]) & shingles(self.a["text"][i + n]))

    def test_frame_is_confluent_wire_format(self):
        b = gen.frame(3, 70, "a b", "en")
        self.assertEqual(b[0], 0)
        self.assertEqual(int.from_bytes(b[1:5], "big"), gen.WRITER_SCHEMA_ID)
        import oracle
        _, r = oracle.unframe(b)
        self.assertEqual(oracle.read_avro(gen.WRITER_SCHEMA, r),
                         {"msg_id": 3, "doc_id": 70, "text": "a b", "lang": "en"})


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.reportable_percentile(19))
        self.assertEqual(metrics.reportable_percentile(20), 50.0)
        self.assertEqual(metrics.reportable_percentile(40), 75.0)
        self.assertEqual(metrics.reportable_percentile(99), 75.0)
        self.assertEqual(metrics.reportable_percentile(100), 90.0)
        self.assertEqual(metrics.reportable_percentile(200), 95.0)
        self.assertEqual(metrics.reportable_percentile(1000), 99.0)
        self.assertEqual(metrics.reportable_percentile(10000), 99.9)

    def test_quantile_interpolates(self):
        self.assertEqual(metrics.quantile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(metrics.quantile(range(11), 90), 9.0)
        self.assertAlmostEqual(metrics.quantile([0, 10], 25), 2.5)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="x"):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": name}

    def test_overlapping_children(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 50), self.span(3, 1, 30, 70),
                 self.span(4, 1, 90, 130), self.span(5, 2, 20, 30)]
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (60 + 10))  # [10,70] and [90,100]
        self.assertEqual(st[2], 40 - 10)
        self.assertEqual(st[3], 40)
        self.assertEqual(st[5], 10)

    def test_uncovered_remainder_and_job_gaps(self):
        spans = [self.span(1, -1, 0, 40, "a"), self.span(2, -1, 30, 60, "b")]
        jobs = [{"group": "span-1", "start": 5, "end": 15, "tasks": 1, "busy_ns": 1,
                 "wait_ns": 0, "gc_ns": 0, "shuffle_write": 0, "shuffle_read": 0,
                 "spill": 0, "failed_tasks": 0}]
        layers, uncovered = metrics.layer_metrics(spans, jobs, (0, 100))
        self.assertEqual(uncovered, 40 / 1e9)
        self.assertEqual(layers["a"]["jobs"], 1)
        self.assertAlmostEqual(layers["a"]["driver_gap_s"], 30 / 1e9)
        self.assertAlmostEqual(metrics.engine_metrics(jobs, (0, 100))["spark.driver_gap_s"],
                               90 / 1e9)


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_every_named_metric_is_emitted_with_its_unit(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         dict(run.PER_LAYER))
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))

    def test_result_line_parses(self):
        line = run.result_line(3, 0, {"setup_s": 1.5}, {"setup_s": "s"})
        out = json.loads(("noise\n" + line + "\n").strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"]["setup_s"], {"value": 1.5, "unit": "s"})

    @unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
    def test_end_to_end_last_line(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest",
             "--seed", "1", "--seconds", "2", "--trace", "0"],
            stdout=subprocess.PIPE, text=True, timeout=600)
        self.assertEqual(p.returncode, 0)
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(set(out["metrics"]), set(run.UNITS))


if __name__ == "__main__":
    unittest.main()
