"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import metrics, stats  # noqa: E402


def span(id, parent, start, end, name="x", op=0, **counters):
    return {"id": id, "parent": parent, "name": name, "op": op,
            "start_s": start, "end_s": end, "counters": counters}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(0, -1, 1.0, 3.5)])[0], 2.5)

    def test_sequential_children(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 4.0, 9.0)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 2.0)
        self.assertAlmostEqual(selfs[1], 3.0)
        self.assertAlmostEqual(selfs[2], 5.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 1.0, 6.0), span(2, 0, 4.0, 8.0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 3.0)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [span(0, -1, 0.0, 10.0), span(1, 0, 0.0, 8.0), span(2, 1, 1.0, 7.0)]
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 2.0)
        self.assertAlmostEqual(selfs[1], 2.0)
        self.assertAlmostEqual(selfs[2], 6.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 2.0, 4.0), span(1, 0, 1.0, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 1.0)

    def test_layer_gap_names_uncovered_ops(self):
        covered = [span(0, -1, 0.0, 1.0, "op"), span(1, 0, 0.0, 0.99, "exec")]
        self.assertLess(stats.layer_gap(covered), metrics.LAYER_GAP_TOLERANCE)
        self.assertIsNone(metrics._worst_gap(covered))
        gappy = [span(0, -1, 0.0, 1.0, "op"), span(1, 0, 0.0, 0.5, "exec")]
        self.assertAlmostEqual(stats.layer_gap(gappy), 0.5)
        self.assertIn("op of op 0", metrics._worst_gap(gappy))

    def test_layer_gap_covers_the_probe_build(self):
        # a probe build whose layers miss 40% of it fails, though its op's
        # only child is the build
        probe = [span(0, -1, 0.0, 1.0, "op", op=-2),
                 span(1, 0, 0.0, 1.0, "engine.build", op=-2),
                 span(2, 1, 0.0, 0.6, "catalog.scan", op=-2)]
        self.assertAlmostEqual(stats.layer_gap(probe), 0.4)
        self.assertIn("engine.build of op -2", metrics._worst_gap(probe))


class ProbeLayersTest(unittest.TestCase):
    def probe(self, op, scan, load, jobs):
        # config.load, then engine.build over two scans, one load and glue
        base = ids = {-2: 0, -3: 10, -4: 20}[op]
        return [span(ids, -1, base, base + 0.1, "config.load", op=op),
                span(ids + 1, -1, base + 0.1, base + 5.1, "engine.build", op=op),
                span(ids + 2, ids + 1, base + 0.1, base + 0.1 + scan, "catalog.scan", op=op),
                span(ids + 3, ids + 1, base + 2.0, base + 2.0 + scan, "catalog.scan", op=op),
                span(ids + 4, ids + 1, base + 4.0, base + 4.0 + load, "sources.load", op=op,
                     jobs=jobs)]

    def test_medians_over_probes(self):
        spans = self.probe(-2, 0.5, 1.0, 3) + self.probe(-3, 0.7, 1.0, 3) + \
            self.probe(-4, 0.6, 0.2, 3)
        got = metrics.probe_layers(spans, stats.self_times(spans))
        self.assertAlmostEqual(got["catalog.scan_s"], 1.2)
        self.assertAlmostEqual(got["sources.load_s"], 1.0)
        self.assertAlmostEqual(got["sources.jobs"], 3.0)
        self.assertAlmostEqual(got["engine.build_s"], 5.0)
        # self time: 5.0 minus two scans and the load, per probe: 3.0, 2.6, 3.6
        self.assertAlmostEqual(got["engine.self_s"], 3.0)
        self.assertEqual(got["model.build_s"], 0.0)

    def test_timed_ops_are_not_probes(self):
        spans = [span(0, -1, 0.0, 1.0, "engine.build", op=1)]
        self.assertEqual(metrics.probe_layers(spans, stats.self_times(spans))["engine.build_s"],
                         0.0)


def op(name, p, status="ok", digest="d1", detail=""):
    return {"name": name, "pass": p, "status": status, "digest": digest, "detail": detail,
            "wall_s": 1.0, "family": "Reference"}


class ErrorAccountingTest(unittest.TestCase):
    def account(self, ops, wedged=()):
        return stats.account_errors(ops, list(wedged), stats.reference_digests(ops))

    def test_clean_run(self):
        ops = [op("a", 0), op("a", 1), op("b", 0, digest="d2"), op("b", 1, digest="d2")]
        self.assertEqual(self.account(ops), (4, 0, []))

    def test_exception_counts_once(self):
        ops = [op("a", 0), op("a", 1, status="error", digest="", detail="boom")]
        attempted, failed, names = self.account(ops)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("a#pass1", names[0])

    def test_digest_mismatch_counts_once(self):
        ops = [op("a", 0), op("a", 1, digest="other"), op("a", 2)]
        attempted, failed, names = self.account(ops)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("digest", names[0])

    def test_reference_is_first_successful_op(self):
        ops = [op("a", 0, status="error", digest=""), op("a", 1, digest="x"), op("a", 2, digest="x")]
        self.assertEqual(self.account(ops)[:2], (3, 1))

    def test_wedged_body_counts_once(self):
        attempted, failed, names = self.account([op("a", 0)], wedged=["warm-dedup"])
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(names, ["warm-up body warm-dedup: wedged"])

    def test_each_kind_once_together(self):
        ops = [op("a", 0), op("a", 1, digest="bad"), op("b", 0, status="error", digest="")]
        attempted, failed, _ = self.account(ops, wedged=["w"])
        self.assertEqual((attempted, failed), (4, 3))

    def test_failed_check_fails_the_run_without_counting_as_an_op(self):
        rec = {"ops": [op("a", 0), op("a", 1)], "setup": {"total_s": 1.0, "wedged": []},
               "passes": [{"wall_s": 1.0, "cpu_s": 1.0, "traced": False}] * 2,
               "checkpoints": [{"at": "setup", "rdds": 0, "mb": 0.0}]}
        checks = [{"name": "oracle:a", "status": "fail", "detail": "col x"},
                  {"name": "oracle:b", "status": "unchecked", "detail": "no oracle SQL"}]
        result, failures = metrics.summarize(rec, checks, False, 4)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (2, 0))
        self.assertEqual(len(failures), 1)


class RepeatCheckTest(unittest.TestCase):
    def test_marks_exact_repeats(self):
        got = stats.repeat_check({"jobs": 10.0, "tasks": 40.0, "only_a": 1.0},
                                 {"jobs": 10.0, "tasks": 41.0})
        self.assertEqual(got, {"jobs": (10.0, 10.0, True), "tasks": (40.0, 41.0, False)})


if __name__ == "__main__":
    unittest.main()
