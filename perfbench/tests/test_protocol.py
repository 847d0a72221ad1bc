import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import summarise  # noqa: E402


def ev(line):
    return run.parse_event(line)


class HarnessLines(unittest.TestCase):
    def test_protocol_lines(self):
        e = ev('PB {"event":"op","pass":1,"op":"tpch_q1","s":0.5,"error":null}')
        self.assertEqual(e, {"event": "op", "pass": 1, "op": "tpch_q1",
                             "s": 0.5, "error": None})

    def test_other_lines_ignored(self):
        self.assertIsNone(ev("26/10/17 10:06:44 INFO SparkContext: Running"))
        self.assertIsNone(ev('{"event":"op"}'))

    def test_malformed_protocol_line_raises(self):
        with self.assertRaises(ValueError):
            ev('PB {"event":')


def run_events(warm, cold=3.0, errors=()):
    events = [{"event": "ready"}, {"event": "pass", "pass": 0, "s": cold}]
    events += [{"event": "op", "pass": 0, "op": "a", "s": cold, "error": None}]
    for i, (a, b) in enumerate(warm, start=1):
        events += [
            {"event": "op", "pass": i, "op": "a", "s": a,
             "error": "boom" if (i, "a") in errors else None},
            {"event": "op", "pass": i, "op": "b", "s": b, "error": None},
            {"event": "pass", "pass": i, "s": a + b}]
    events += [{"event": "storage", "blocks": 2, "bytes": 3_000_000},
               {"event": "done", "passes": len(warm) + 1}]
    return events


class EndToEnd(unittest.TestCase):
    def test_metrics_from_events(self):
        events = run_events([(1.0, 2.0), (1.5, 2.5), (1.2, 2.2)])
        m, extra, attempted, failed = run.end_to_end(
            events, [5.0, 4.0, 6.0], {"a": None, "b": None}, None)
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["cold_pass_s"], 3.0)
        self.assertAlmostEqual(m["warm_pass_s"], 3.4)
        self.assertAlmostEqual(extra["op_p50_s"], (1.5 + 2.0) / 2)
        self.assertNotIn("op_p90_s", extra)  # 6 samples: too few
        self.assertEqual(extra["cache_mb"], 3.0)
        self.assertEqual((attempted, failed), (7 + 2, 0))
        self.assertEqual(set(m), set(run.declared()[0]))

    def test_failures_and_wrong_outputs_count(self):
        events = run_events([(1.0, 2.0)], errors={(1, "a")})
        _, extra, attempted, failed = run.end_to_end(
            events, [1.0], {"a": "row 0 differs", "b": None}, None)
        self.assertEqual((attempted, failed), (3 + 2, 2))
        self.assertAlmostEqual(extra["fail_frac"], 2 / 5)


class ResultLine(unittest.TestCase):
    def test_last_line_shape(self):
        units = {"setup_s": "s", "op_p50_s": "s"}
        line = run.result_line(True, 9, 0,
                               {"setup_s": 5.123456789, "op_p50_s": 0.5},
                               units)
        doc = json.loads(line)
        self.assertEqual(sorted(doc), ["attempted", "correct", "failed",
                                       "metrics"])
        self.assertEqual(doc["metrics"]["setup_s"],
                         {"value": 5.123456789, "unit": "s"})
        self.assertIsInstance(doc["attempted"], int)


def span(sid, parent, pas, op, layer, start_ms, end_ms, **attrs):
    return {"id": sid, "parent": parent, "pass": pas, "op": op,
            "layer": layer, "start_ns": int(start_ms * 1e6),
            "end_ns": int(end_ms * 1e6), "attrs": dict(ok=True, **attrs)}


def stage(sid, job, tasks, ms, rdds):
    return {"id": sid, "attempt": 0, "job": job, "name": "s",
            "num_tasks": len(tasks), "rdds": rdds,
            "submitted_ms": 0, "completed_ms": ms, "failed": False,
            "input_bytes": 2_000_000, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 1_000_000, "spill_bytes": 0,
            "output_bytes": 0, "task_ms": tasks}


class Summary(unittest.TestCase):
    def trace(self):
        spans = [
            span(0, -1, 1, "q", "op", 0, 1000),
            span(1, 0, 1, "q", "build", 0, 600),
            span(2, 0, 1, "q", "plan", 600, 650),
            span(3, 0, 1, "q", "exec", 650, 1000, gc_ms=5, root_sort=True,
                 cache_scans=1),
        ]
        jobs = [{"id": 0, "span": 1}, {"id": 1, "span": 3},
                {"id": 2, "span": 3}]
        stages = [
            stage(0, 0, [10], 10, [[1, [], False]]),
            # Job 1 computes RDDs 5 <- 4; job 2 recomputes 4 and reads a
            # persisted RDD 9 whose parent 8 it does not compute.
            stage(1, 1, [300], 300, [[5, [4], False], [4, [], False]]),
            stage(2, 2, [40, 40, 40, 120], 130,
                  [[6, [4, 9], False], [4, [], False], [9, [8], True],
                   [8, [], False]]),
        ]
        return {"cores": 4, "spans": spans, "jobs": jobs, "stages": stages}

    def test_self_time_counts_and_flags(self):
        t = summarise.Trace(self.trace())
        o = t.op(0)
        self.assertAlmostEqual(o["wall_ms"], 1000)
        self.assertAlmostEqual(o["op_self_ms"], 0)
        self.assertAlmostEqual(o["build_ms"], 600)
        self.assertAlmostEqual(o["plan_ms"], 50)
        self.assertAlmostEqual(o["exec_ms"], 350)
        self.assertEqual((o["build_jobs"], o["plan_jobs"], o["exec_jobs"]),
                         (1, 0, 2))
        self.assertEqual(o["stages"], 2)
        self.assertEqual(o["tasks"], 5)
        self.assertEqual(o["busy_ms"], 540)
        self.assertEqual(o["serial_stages"], 1)
        self.assertAlmostEqual(o["skew"], 3.0)
        self.assertTrue(o["root_sort"])
        self.assertEqual(sorted(o["flags"]),
                         ["build_jobs", "double_execution",
                          "serial_heavy_stage"])

    def test_range_sampling_is_not_double_execution(self):
        doc = self.trace()
        doc["spans"][3]["attrs"]["range_exchanges"] = 1
        o = summarise.Trace(doc).op(0)
        self.assertEqual(o["repeat_jobs"], 1)
        self.assertNotIn("double_execution", o["flags"])

    def test_computed_rdds_stop_at_persisted(self):
        st = stage(0, 0, [1], 1, [[3, [2], False], [2, [1], True],
                                  [1, [], False]])
        self.assertEqual(summarise.computed_rdds(st), {3})

    def test_per_layer_metrics_cover_the_declared_set(self):
        events = [{"event": "pass", "pass": 1, "s": 1.0, "trace_s": 0.002},
                  {"event": "storage", "blocks": 3, "bytes": 2e6}]
        m, table = summarise.per_layer(self.trace(), events)
        self.assertEqual(set(m), set(run.declared()[1]))
        self.assertAlmostEqual(m["build.share"], 0.6)
        self.assertAlmostEqual(m["exec.core_util"], 540 / 350 / 4)
        self.assertEqual(m["flags.double_execution"], 1)
        self.assertEqual(m["cache.blocks"], 3)
        self.assertEqual(m["trace.overhead_s"], 0.002)
        self.assertEqual([r["op"] for r in table], ["q"])
        self.assertIn("build_share=0.60", summarise.format_op(table[0]))


if __name__ == "__main__":
    unittest.main()
