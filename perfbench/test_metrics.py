"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import oracle  # noqa: E402


def raw_record(workload="corpus_chain"):
    """A small run: cold phase (op 0), three loop operations, and jobs
    with and without descriptions, one of them harness work (op -1)."""
    ops = [{"id": i, "type": "pass", "start": 100.0 * i, "end": 100.0 * i + 80, "ok": True}
           for i in (1, 2, 3)]
    jobs = [
        {"id": 0, "op": 0, "span": -1, "label": None, "start": 0.0, "end": 10.0},
        {"id": 1, "op": 1, "span": 1, "label": "a", "start": 100.0, "end": 130.0},
        {"id": 2, "op": 1, "span": 1, "label": None, "start": 120.0, "end": 150.0},
        {"id": 3, "op": 2, "span": 2, "label": "a", "start": 200.0, "end": 210.0},
        {"id": 4, "op": 2, "span": 2, "label": "b", "start": 220.0, "end": 230.0},
        {"id": 5, "op": 3, "span": 3, "label": None, "start": 300.0, "end": 340.0},
        {"id": 6, "op": -1, "span": -1, "label": None, "start": 400.0, "end": 410.0},
    ]
    stages = [{"id": j["id"], "job": j["id"], "task_ms": 40, "shuffle_write": 2**20,
               "spill": 0, "records_read": 0,
               "callsite": "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                           + ("graft.pipeline.Dedup$.run(Dedup.scala:9)" if j["id"] % 2 else "")}
              for j in jobs]
    spans = [{"id": i, "parent": -1, "op": i, "name": "queries.q_corpus_e2e",
              "start": 100.0 * i, "end": 100.0 * i + 80} for i in (1, 2, 3)]
    return {"workload": workload, "setup_ms": 700.0, "cold_ms": 50.0,
            "loop_start": 100.0, "loop_end": 400.0, "ops": ops, "jobs": jobs,
            "stages": stages, "spans": spans, "counters": {}, "peak_heap_mb": 100.0}


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        p = metrics.percentile(range(100), 0.9)
        self.assertEqual(p, {"value": 90, "n": 100})
        self.assertEqual(metrics.percentile(range(20), 0.5), {"value": 10, "n": 20})

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        span = {"start": 0.0, "end": 100.0}
        children = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 50.0},
                    {"start": 90.0, "end": 120.0}]
        # covered: [10, 50] and [90, 100] -> 50 of 100
        self.assertEqual(metrics.self_ms(span, children), 50.0)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms({"start": 5.0, "end": 7.5}, []), 2.5)

    def test_union_of_nested_and_disjoint(self):
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3), (20, 25), (24, 30)]), 20)


class LabelGroupingTest(unittest.TestCase):
    def test_groups_sum_to_job_count(self):
        jobs = raw_record()["jobs"]
        groups = metrics.jobs_by_label(jobs)
        self.assertEqual(groups, {None: 4, "a": 2, "b": 1})
        self.assertEqual(sum(groups.values()), len(jobs))

    def test_labeled_plus_unlabeled_is_jobs_per_op(self):
        raw = raw_record()
        e2e = metrics.end_to_end(raw)
        layer = metrics.per_layer(raw)
        self.assertAlmostEqual(e2e["jobs_per_op"]["value"], 5 / 3)
        self.assertAlmostEqual(layer["queries.labeled_jobs"]["value"]
                               + layer["queries.unlabeled_jobs"]["value"],
                               e2e["jobs_per_op"]["value"])


class RunMetricsTest(unittest.TestCase):
    def test_end_to_end_values(self):
        m = metrics.end_to_end(raw_record())
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["setup_s"]["value"], 0.7)
        self.assertEqual(m["ops_per_s"]["value"], 10.0)
        self.assertEqual(m["op_ms"]["value"], 80.0)
        # task time per operation 80, 80 and 40 ms: median 80
        self.assertAlmostEqual(m["task_s_per_op"]["value"], 80 / 1000)

    def test_per_layer_reports_every_metric(self):
        m = metrics.per_layer(raw_record())
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        # jobs 1, 3, 5 have a graft.pipeline frame; 2 and 4 fall back to
        # the layer of their span (queries)
        self.assertAlmostEqual(m["pipeline.task_s"]["value"], 3 * 40 / 3 / 1000)
        self.assertAlmostEqual(m["queries.task_s"]["value"], 2 * 40 / 3 / 1000)
        self.assertEqual(m["total.cold_jobs"]["value"], 1)
        self.assertEqual(m["total.cold_s"]["value"], 0.05)
        # op 1: 80 ms wall, jobs cover [100, 150] -> 30 ms gap; op 2: 60; op 3: 40
        self.assertAlmostEqual(m["total.driver_gap_ms_per_op"]["value"], 130 / 3)

    def test_share_weighted_median(self):
        ops = [{"type": t, "start": 0.0, "end": e, "ok": True}
               for t, e in [("get", 10), ("get", 30), ("get", 20), ("scan", 100),
                            ("agg", 200), ("append", 400), ("compact", 9999)]]
        ops.append({"type": "get", "start": 0.0, "end": 5000.0, "ok": False})
        expected = (3 * 20 + 100 + 200 + 400 + 9999) / 7
        self.assertAlmostEqual(metrics.op_ms(ops), expected)

    def test_stage_module(self):
        site = "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\ngraft.SparkEntry$.x(S.scala:1)\n" \
               "graft.store.GramIndex$.write(GramIndex.scala:2)\ngraft.pipeline.Dedup$.y(D.scala:3)"
        self.assertEqual(metrics.stage_module(site), "store")
        self.assertIsNone(metrics.stage_module("perfbench.Kv.get(Main.scala:1)"))


class OracleRewriteTest(unittest.TestCase):
    def test_materializes_all_but_self_referencing_ctes(self):
        sql = ("WITH RECURSIVE a AS (SELECT 1 AS x), "
               "r AS (SELECT x FROM a UNION SELECT x + 1 FROM r WHERE x < 3), "
               "b AS (SELECT count(*) AS n FROM (SELECT * FROM r)) SELECT n FROM b")
        out = oracle.materialized(sql)
        self.assertIn("a AS MATERIALIZED (SELECT 1", out)
        self.assertIn("r AS (SELECT x FROM a", out)
        self.assertIn("b AS MATERIALIZED (SELECT count(*)", out)


if __name__ == "__main__":
    unittest.main()
