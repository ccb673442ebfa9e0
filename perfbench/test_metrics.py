"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_omitted_below_twenty(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_twenty_gives_median_with_ten_beyond(self):
        p, v, beyond = metrics.tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, v, beyond), (50, 10.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(x) for x in range(1, 101)]
        self.assertEqual(metrics.tail(xs), (90, 90.0, 10))
        # 199 samples: p95 would leave only 9 beyond, so p90 it is
        p, _, beyond = metrics.tail(list(range(199)))
        self.assertEqual((p, beyond), (90, 19))
        p, v, beyond = metrics.tail([float(x) for x in range(1, 1001)])
        self.assertEqual((p, v, beyond), (99, 990.0, 10))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(1, 41)]
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))


class EndToEndTest(unittest.TestCase):
    def op(self, id_, ok, start, end):
        return {"id": id_, "traced": False, "ok": ok, "start": start,
                "end": end, "fields": {}}

    def test_failed_ops_have_no_latency(self):
        raw = {"setup_s": [1.0], "ops": [self.op(0, False, 0, 10**9),
                                          self.op(1, False, 10**9, 2 * 10**9)]}
        e2e, tl = metrics.end_to_end(raw)
        self.assertIsNone(e2e["op_p50_s"])
        self.assertEqual(e2e["ops_per_min"], 0.0)
        self.assertIsNone(tl)

    def test_latency_of_passed_ops_only(self):
        raw = {"setup_s": [3.0, 1.0, 2.0], "ops": [
            self.op(0, True, 0, 2 * 10**9), self.op(1, False, 2 * 10**9, 2 * 10**9 + 1),
            self.op(2, True, 3 * 10**9, 7 * 10**9)]}
        e2e, _ = metrics.end_to_end(raw)
        self.assertEqual(e2e["op_p50_s"], 3.0)
        self.assertEqual(e2e["ops_per_min"], 60.0 * 2 / 7)
        self.assertEqual(e2e["setup_s"], 2.0)


class CommitTest(unittest.TestCase):
    def job(self, id_, parent, written, records):
        return {"id": id_, "parent": parent, "op": 0, "frame": "", "start": 2,
                "end": 3, "stages": 1, "tasks": 1, "task_ms": 1, "gc_ms": 0,
                "shuffle_write": 0, "spill": 0, "bytes_written": written,
                "records_written": records}

    def test_only_the_job_thunks_writes_count(self):
        raw = {"cpus": 4, "peak_cached_bytes": 0, "session_start_s": 1.0,
               "info": {}, "ops": [{"id": 0, "traced": True, "ok": True,
                                    "start": 0, "end": 10, "fields": {
                                        "rows_fetched": 10, "new_rows": 4}}],
               "spans": [{"id": 1, "name": "op", "parent": 0, "op": 0, "start": 0, "end": 10},
                         {"id": 2, "name": "api.job", "parent": 1, "op": 0, "start": 1, "end": 9},
                         {"id": 3, "name": "fetch", "parent": 2, "op": 0, "start": 1, "end": 2}],
               # the store rewrite, a job of the fetch span, a replay's job
               "jobs": [self.job(1, 2, 3 * 10**6, 1000), self.job(2, 3, 10**6, 7),
                        self.job(3, 99, 10**6, 7)]}
        m = metrics.per_layer(raw)
        self.assertEqual(m["IngestionJob.commit_mb"], 3.0)
        self.assertEqual(m["IngestionJob.rows_rewritten_per_new_row"], 250.0)
        self.assertEqual(m["Upsert.new_row_ratio"], 0.4)


class SelfTimeTest(unittest.TestCase):
    def span(self, id_, parent, start, end, name="x"):
        return {"id": id_, "parent": parent, "name": name, "op": 0,
                "start": start, "end": end}

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 4),
                 self.span(3, 1, 3, 6), self.span(4, 1, 8, 12)]
        st = metrics.self_times(spans)
        # children cover [1,6] and [8,10] inside the parent: 7 of 10
        self.assertEqual(st[1], 3)
        self.assertEqual(st[2], 3)
        self.assertEqual(st[4], 4)

    def test_nested_child_inside_child(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 2, 8),
                 self.span(3, 2, 3, 5)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 4, 2))

    def test_union_length_clips(self):
        self.assertEqual(metrics.union_length([(-5, 2), (1, 3), (9, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([], 0, 10), 0)


class ModuleTest(unittest.TestCase):
    def test_module_is_source_file(self):
        self.assertEqual(metrics.module_of(
            "graft.ops.TextOps$.bandsFromKept(TextOps.scala:812)"), "TextOps")
        self.assertEqual(metrics.module_of(
            "graft.ops.PipelineOps$.$anonfun$catalog$12(PipelineOps.scala:1770)"),
            "PipelineOps")
        # Tables lives in Schemas.scala: the file names the module
        self.assertEqual(metrics.module_of(
            "graft.schema.Tables$.load(Schemas.scala:54)"), "Schemas")

    def test_no_graft_frame_is_other(self):
        self.assertEqual(metrics.module_of(""), "other")
        self.assertEqual(metrics.module_of(None), "other")

    def test_serve_jobs_group_under_serve(self):
        raw = {"jobs": [
            {"id": 1, "parent": 10, "op": 0, "frame": "", "start": 1, "end": 2},
            {"id": 2, "parent": 11, "op": 0, "start": 2, "end": 3,
             "frame": "graft.ops.TextOps$.x(TextOps.scala:1)"},
            {"id": 3, "parent": 10, "op": 0, "start": 4, "end": 5,
             "frame": "graft.ops.TextOps$.x(TextOps.scala:1)"}]}
        spans = [{"id": 10, "name": "serve"}, {"id": 11, "name": "build"}]
        names = [s["name"] for s in metrics.job_spans(raw, spans)]
        self.assertEqual(names, ["spark.job:serve", "spark.job:TextOps",
                                 "spark.job:serve"])


if __name__ == "__main__":
    unittest.main()
