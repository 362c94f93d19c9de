"""Self-tests of run.py's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import run  # noqa: E402

ROOT = os.path.join(os.path.dirname(__file__), "..", "..")


def span(sid, parent, kind, name, start, end, **attrs):
    return [sid, parent, kind, name, start, end, attrs]


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        root = span(1, 0, "query", "q", 0, 100)
        kids = [span(2, 1, "construct", "q", 10, 30),
                span(3, 1, "execute", "q", 40, 90)]
        self.assertEqual(run.self_time(root, kids), 30)

    def test_overlapping_children_count_once(self):
        root = span(1, 0, "pass", "0", 0, 100)
        kids = [span(2, 1, "a", "", 10, 60), span(3, 1, "b", "", 50, 70)]
        self.assertEqual(run.self_time(root, kids), 40)

    def test_children_are_clipped_to_the_parent(self):
        root = span(1, 0, "pass", "0", 10, 20)
        self.assertEqual(run.self_time(root, [span(2, 1, "a", "", 0, 15)]), 5)
        self.assertEqual(run.self_time(root, []), 10)


class Percentile(unittest.TestCase):
    def test_no_p90_without_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile_with_tail(list(range(50)), 0.9))
        self.assertIsNone(run.percentile_with_tail([], 0.9))

    def test_p90_with_a_tail(self):
        xs = list(range(1, 201))
        v = run.percentile_with_tail(xs, 0.9)
        self.assertEqual(v, 181)
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)


class MetricNames(unittest.TestCase):
    def test_names_are_well_formed_and_unique(self):
        names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_run_py(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         [n for n, _ in run.END_TO_END])
        self.assertEqual([m["name"] for m in spec["per_layer"]],
                         [n for n, _ in run.PER_LAYER])
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.WORKLOADS))
        units = dict(run.END_TO_END + run.PER_LAYER)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["unit"], units[m["name"]])


class Seeds(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.make_plan(w, 7), run.make_plan(w, 7))
            self.assertNotEqual(run.make_plan(w, 7), run.make_plan(w, 8))

    def test_orders_are_permutations(self):
        plan = run.make_plan("curation_sf01", 3)
        for o in plan["orders"]:
            self.assertEqual(sorted(o), list(range(len(run.CURATION))))

    def test_lifecycle_draws(self):
        plan = run.make_plan("layout_lifecycle", 11)
        self.assertEqual(len(set(plan["lc.doc_ids"])), run.LC_DOCS)
        self.assertEqual(len(set(plan["lc.vec_ids"])), run.LC_VECS)
        self.assertEqual(len(set(plan["lc.terms"])), 3)
        self.assertEqual(len(set(plan["lc.phrase"])), 2)
        self.assertTrue(set(plan["lc.qvecs"]) <= set(plan["lc.vec_ids"]))

    def test_lifecycle_corpus_is_the_planned_slice(self):
        plan = run.make_plan("layout_lifecycle", 11)
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "corpus")
            run.write_lifecycle_corpus(plan, out)
            docs = pq.read_table(os.path.join(out, "documents.parquet"))
            vecs = pq.read_table(os.path.join(out, "embeddings.parquet"))
        self.assertEqual(sorted(docs.column("doc_id").to_pylist()),
                         plan["lc.doc_ids"])
        self.assertEqual(sorted(vecs.column("vec_id").to_pylist()),
                         plan["lc.vec_ids"])
        words = {w for t in docs.column("text").to_pylist()
                 for w in t.split(" ")}
        self.assertTrue(set(plan["lc.terms"] + plan["lc.phrase"]) <= words)


class Correctness(unittest.TestCase):
    REF = {"q1": {"digest": "3:99", "oracle_pass": True},
           "q2": {"digest": "5:-7", "oracle_pass": True}}

    def out(self, checks, errors=()):
        return {"attempted": 4, "checks": checks, "errors": list(errors)}

    def setUp(self):
        self._w = run.WORKLOADS["curation_sf01"]
        run.WORKLOADS["curation_sf01"] = ["q1", "q2"]

    def tearDown(self):
        run.WORKLOADS["curation_sf01"] = self._w

    def test_matching_digests_pass(self):
        att, failed, _ = run.evaluate("curation_sf01", self.out(
            [["q1", "", "3:99"], ["q2", "", "5:-7"]]), self.REF)
        self.assertEqual((att, failed), (6, 0))

    def test_altered_expected_result_raises_fail_rate(self):
        ref = json.loads(json.dumps(self.REF))
        ref["q2"]["digest"] = "5:-8"
        att, failed, notes = run.evaluate("curation_sf01", self.out(
            [["q1", "", "3:99"], ["q2", "", "5:-7"]]), ref)
        self.assertEqual(failed, 1)
        self.assertGreater(failed / att, 0)
        self.assertIn("q2", notes[0])

    def test_oracle_failure_and_errors_count(self):
        ref = json.loads(json.dumps(self.REF))
        ref["q1"]["oracle_pass"] = False
        _, failed, _ = run.evaluate("curation_sf01", self.out(
            [["q1", "", "3:99"], ["q2", "", "5:-7"]], [["q2", "boom"]]), ref)
        self.assertEqual(failed, 2)

    def test_missing_digest_is_a_failed_attempt(self):
        att, failed, _ = run.evaluate("curation_sf01", self.out(
            [["q1", "", "3:99"]], [["q2", "boom"]]), self.REF)
        self.assertEqual((att, failed), (6, 1))

    def test_lifecycle_probes_must_equal_the_rebuild(self):
        checks = [["bm25.p3", "aa", "aa"], ["ivfpq.p5", "bb", "bb"]]
        att, failed, _ = run.evaluate("layout_lifecycle", self.out(checks), {})
        self.assertEqual((att, failed), (6, 0))
        checks[1][1] = "bc"  # an altered rebuild result
        _, failed, _ = run.evaluate("layout_lifecycle", self.out(checks), {})
        self.assertEqual(failed, 1)


class PerLayer(unittest.TestCase):
    MS = 1_000_000

    def trace(self):
        ms = self.MS
        spans = [
            span(1, 0, "warmup", "queries", 0, 50 * ms),
            span(2, 0, "pass", "0", 100 * ms, 1100 * ms, cpu_s=2.5),
            span(3, 2, "query", "q89", 100 * ms, 1000 * ms),
            span(4, 3, "construct", "q89", 100 * ms, 400 * ms),
            span(5, 3, "plan", "q89", 400 * ms, 500 * ms, exchanges=2.0,
                 scans=1.0, checkpoint_leaves=1.0),
            span(6, 3, "execute", "q89", 500 * ms, 1000 * ms),
            span(7, 2, "query", "q97", 1000 * ms, 1100 * ms),
            span(8, 7, "execute", "q97", 1000 * ms, 1100 * ms),
        ]
        groups = {"1": {"jobs": 9},
                  "4": {"jobs": 2, "task_s": 0.5},
                  "6": {"jobs": 1, "tasks": 4, "task_s": 1.0}}
        return {"spans": spans, "groups": groups, "layouts": {},
                "live_heap": 3 << 20}

    def test_layer_sums_per_pass(self):
        m = run.per_layer(self.trace(), False, 2, 0.0)
        self.assertAlmostEqual(m["query_p50_s"], 0.5)
        self.assertEqual(m["live_heap_mb"], 3.0)
        self.assertEqual(m["queries.construct_jobs"], 2)
        self.assertAlmostEqual(m["queries.construct_s"], 0.3)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.1)
        self.assertEqual(m["catalyst.exchanges"], 2)
        self.assertEqual(m["exec.jobs"], 3)  # the warm-up's 9 are excluded
        # task time of the execute spans only, over their wall × nproc
        self.assertAlmostEqual(m["exec.busy_ratio"], 1.0 / (0.6 * 2))
        self.assertAlmostEqual(m["trace.pass_s"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 0.1 / 0.9)
        self.assertEqual(m["writers.bm25.jobs"], 0)

    def test_per_query_rows_and_sanity(self):
        out = self.trace()
        rows = run.per_query(out)
        self.assertEqual(rows["q89"]["construct.jobs"], 2)
        self.assertAlmostEqual(rows["q89"]["self_s"], 0.0)
        self.assertAlmostEqual(rows["q97"]["wall_s"], 0.1)
        m = run.per_layer(out, False, 2, 0.0)
        saved = run.CURATION
        run.CURATION = ["q89", "q97"]
        try:
            self.assertEqual(run.sanity("curation_sf01", rows, m),
                             ["q97 ran no construct job"])
        finally:
            run.CURATION = saved

    def test_end_to_end(self):
        out = dict(self.trace(), warm_end_ms=60_000)
        e = run.end_to_end(out, 50.0)
        self.assertAlmostEqual(e["setup_s"], 10.0)
        self.assertAlmostEqual(e["pass_s"], 1.0)
        self.assertAlmostEqual(e["pass_cpu_s"], 2.5)


if __name__ == "__main__":
    unittest.main()
