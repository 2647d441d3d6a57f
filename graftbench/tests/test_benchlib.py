"""Unit tests of the benchmark's arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import time
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib as B  # noqa: E402


def span(id_, parent, start, end, kind="call", name="", **attrs):
    return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end, "kind": kind,
            "name": name, "attrs": attrs}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(B.nearest_rank(xs, 50), 50)
        self.assertEqual(B.nearest_rank(xs, 90), 90)
        self.assertEqual(B.nearest_rank(xs, 99), 99)
        self.assertEqual(B.nearest_rank([7.0], 99.9), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(B.tail_percentile(100), 90.0)   # rank 90, 10 beyond
        self.assertEqual(B.tail_percentile(99), 75.0)    # p90: rank 90, 9 beyond
        self.assertEqual(B.tail_percentile(200), 95.0)
        self.assertEqual(B.tail_percentile(1000), 99.0)
        self.assertEqual(B.tail_percentile(40), 75.0)
        self.assertEqual(B.tail_percentile(12), 50.0)    # nothing qualifies

    def test_timing(self):
        t = B.timing([float(x) for x in range(100, 0, -1)])
        self.assertEqual((t["n"], t["p50"], t["tail_p"], t["tail"]), (100, 50.5, 90.0, 90.0))
        few = B.timing([3.0, 1.0, 2.0, 10.0])
        self.assertEqual((few["tail_p"], few["tail"]), (50.0, few["p50"]))


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children(self):
        parent = span(1, 0, 0, 100)
        kids = [span(2, 1, 10, 30), span(3, 1, 20, 40), span(4, 1, 60, 70)]
        self.assertEqual(B.self_time(parent, kids), 100 - 40)

    def test_children_clipped_to_parent(self):
        parent = span(1, 0, 50, 100)
        kids = [span(2, 1, 0, 60), span(3, 1, 90, 200), span(4, 1, 200, 300)]
        self.assertEqual(B.self_time(parent, kids), 50 - 20)

    def test_no_children(self):
        self.assertEqual(B.self_time(span(1, 0, 5, 9), []), 4)

    def test_index(self):
        ix = B.SpanIndex([span(1, 0, 0, 10, name="q"), span(2, 1, 0, 5, name="build"),
                          span(3, 2, 1, 2, kind="job"), span(4, 3, 1, 2, kind="stage")])
        self.assertEqual([s["id"] for s in ix.descendants(1, "job")], [3])
        self.assertEqual(len(ix.descendants(1)), 3)
        self.assertEqual(ix.child(1, "build")["id"], 2)
        self.assertIsNone(ix.child(1, "exec"))


class Listing(unittest.TestCase):
    def test_diff_names_added_removed_changed(self):
        before = {"a": ("f", 1, 1), "b": ("f", 2, 2), "c": ("d", 0, 3)}
        after = {"a": ("f", 1, 1), "b": ("f", 3, 2), "d": ("f", 0, 4)}
        self.assertEqual(B.diff_listing(before, after),
                         ["changed b", "removed c", "added d"])

    def test_tree_listing_sees_every_write(self):
        with tempfile.TemporaryDirectory() as root:
            os.makedirs(os.path.join(root, "src"))
            with open(os.path.join(root, "src", "x"), "w") as f:
                f.write("1")
            before = B.list_tree(root)
            self.assertEqual(B.diff_listing(before, B.list_tree(root)), [])
            os.makedirs(os.path.join(root, ".bench_build"))
            self.assertEqual(B.diff_listing(before, B.list_tree(root)),
                             ["changed .", "added .bench_build"])
            os.rmdir(os.path.join(root, ".bench_build"))
            before = B.list_tree(root)
            time.sleep(0.01)
            with open(os.path.join(root, "src", "x"), "w") as f:
                f.write("22")
            self.assertEqual(B.diff_listing(before, B.list_tree(root)), ["changed src/x"])
            os.remove(os.path.join(root, "src", "x"))
            self.assertIn("removed src/x", B.diff_listing(before, B.list_tree(root)))

    def test_work_dir_lies_outside_the_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            root, tmp = os.path.join(d, "checkout"), os.path.join(d, "tmp")
            os.makedirs(root)
            work = B.work_dir(root, None, tmp)
            self.assertTrue(work.startswith(os.path.realpath(tmp) + os.sep))
            self.assertEqual(work, B.work_dir(root, "", tmp))
            self.assertNotEqual(work, B.work_dir(os.path.join(d, "other"), None, tmp))
            self.assertEqual(B.work_dir(root, os.path.join(d, "w"), tmp),
                             os.path.join(os.path.realpath(d), "w"))
            self.assertIsNone(B.work_dir(root, os.path.join(root, ".bench_build"), tmp))
            self.assertIsNone(B.work_dir(root, None, os.path.join(root, "tmp")))
            self.assertIsNone(B.work_dir(root, root, tmp))


class Sampling(unittest.TestCase):
    def test_jobs_before_the_last_without_shuffle_write(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 0, 10, kind="job"), span(3, 2, 0, 10, kind="stage"),
                 span(4, 1, 10, 40, kind="job"),
                 span(5, 4, 10, 40, kind="stage", shuffle_write_bytes=7),
                 span(6, 1, 40, 45, kind="job"), span(7, 6, 40, 45, kind="stage"),
                 span(8, 1, 45, 100, kind="job"), span(9, 8, 45, 100, kind="stage")]
        self.assertEqual(B.sampling_ms(B.SpanIndex(spans), 1), 10 + 5)
        self.assertEqual(B.sampling_ms(B.SpanIndex(spans[:1]), 1), 0)


class Failures(unittest.TestCase):
    def ops(self):
        return [{"kind": "commit", "name": "b0", "ok": True, "ms": 5.0, "timed": True},
                {"kind": "lookup", "name": "c1", "ok": False, "ms": 1.0, "timed": True,
                 "error": "IllegalStateException: boom"},
                {"kind": "query_check", "name": "q_a", "ok": True, "digest": "1:2:3",
                 "rows": 1, "schema": "struct<a:int>", "ms": 1.0, "timed": False},
                {"kind": "query_check", "name": "q_b", "ok": True, "digest": "9:9:9",
                 "rows": 4, "schema": "struct<b:int>", "ms": 1.0, "timed": False}]

    def test_counts_and_lines(self):
        attempted, failed, lines = B.failures(self.ops())
        self.assertEqual((attempted, failed), (4, 1))
        self.assertEqual(lines, ["lookup c1: IllegalStateException: boom"])

    def test_query_checks(self):
        ops = self.ops()
        expected = {"q_a": {"digest": "1:2:3", "rows": 1, "schema": "struct<a:int>",
                            "stable": True, "error": None},
                    "q_b": {"digest": "0:0:0", "rows": 4, "schema": "struct<b:int>",
                            "stable": False, "error": None}}
        B.check_queries(ops, expected)
        self.assertEqual(B.failures(ops)[1], 1)  # q_b is checked by rows and schema only
        expected["q_a"]["digest"] = "1:2:4"
        B.check_queries(ops, expected)
        attempted, failed, lines = B.failures(ops)
        self.assertEqual(failed, 2)
        self.assertTrue(lines[1].startswith("query_check q_a: digest"))

    def test_merge_marks_unstable(self):
        exp = B.merge_expected({}, self.ops())
        self.assertTrue(exp["q_a"]["stable"])
        again = self.ops()
        again[2]["digest"] = "1:2:5"
        B.merge_expected(exp, again)
        self.assertFalse(exp["q_a"]["stable"])
        self.assertTrue(exp["q_b"]["stable"])


class Metrics(unittest.TestCase):
    def test_end_to_end_commit(self):
        ops = [{"kind": "commit", "name": f"b{i}", "ok": True, "timed": True,
                "ms": 100.0 + i, "turns": 50} for i in range(20)]
        ops.append({"kind": "lookup", "name": "c", "ok": True, "timed": True, "ms": 7.0})
        rec = {"workload": "commit_incremental", "ops": ops, "launch_ms": 1000.0,
               "setup_end_ms": 6000.0, "excluded_ms": 2000.0, "vm_hwm_kb": 2048,
               "cores": 4, "values": {"stored_bytes_per_input_byte": 1.5}}
        m, named = B.end_to_end(rec)
        self.assertAlmostEqual(m["setup_s"][0], 3.0)
        self.assertAlmostEqual(m["op_p50_ms"][0], 109.5)
        self.assertAlmostEqual(m["work_per_s"][0], 1000.0 / (sum(o["ms"] for o in ops[:-1]) / 1000.0))
        self.assertEqual(m["peak_rss_mb"], (2.0, "MB"))
        self.assertEqual(named["commit_p50_ms"]["n"], 20)
        self.assertEqual(named["failed_ratio"]["value"], 0.0)

    def test_sweep_operation_is_a_pass(self):
        ops = [{"kind": "query", "name": n, "ok": True, "timed": True, "ms": m, "pass": p}
               for p, (n, m) in enumerate([("q1", 10.0), ("q1", 30.0), ("q1", 20.0)])]
        ops += [{"kind": "query", "name": "q2", "ok": True, "timed": True, "ms": 5.0, "pass": 0}]
        rec = {"workload": "query_sweep", "ops": ops}
        self.assertEqual(B.primary_samples(rec), [15.0, 30.0, 20.0])
        self.assertEqual(B.query_samples(rec), [20.0, 5.0])


class OverheadBase(unittest.TestCase):
    def entry(self, op, build="k1", traced=False, record=False, correct=True, workload="w"):
        return {"info": {"workload": workload, "traced": traced,
                         "config": {"build": build, "record": record}},
                "result": {"correct": correct, "metrics": {"op_p50_ms": {"value": op}}}}

    def test_only_untraced_correct_runs_of_this_build_and_workload(self):
        es = [self.entry(1.0, build="old"), self.entry(2.0, traced=True),
              self.entry(3.0, record=True), self.entry(4.0, correct=False),
              self.entry(5.0, workload="v"), self.entry(10.0), self.entry(20.0)]
        self.assertEqual(B.overhead_base(es, "w", "k1"), 15.0)
        self.assertIsNone(B.overhead_base(es, "w", "k2"))
        self.assertIsNone(B.overhead_base([], "w", "k1"))

    def test_last_ten(self):
        es = [self.entry(1000.0)] * 5 + [self.entry(float(i)) for i in range(10)]
        self.assertEqual(B.overhead_base(es, "w", "k1"), 4.5)


class Declared(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        import json
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, B.PER_LAYER_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, B.E2E_UNITS)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(B.PRIMARY_OP))


if __name__ == "__main__":
    unittest.main()
