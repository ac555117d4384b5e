"""Tests of the benchmark's own rules. Run: python3 -m unittest discover perfbench"""
import os
import shutil
import sys
import tempfile
import unittest
from types import SimpleNamespace

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(53), 81)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_fewer_than_twenty_samples_report_the_median(self):
        self.assertEqual(metrics.tail_percentile(19), 50)
        self.assertEqual(metrics.tail_percentile(1), 50)
        s = metrics.latency_summary([4.0, 1.0, 3.0, 2.0])
        self.assertEqual((s["p50"], s["tail"], s["tail_pct"]), (2.0, 2.0, 50))

    def test_summary_reports_value_percentile_and_count(self):
        s = metrics.latency_summary([float(i) for i in range(40, 0, -1)])
        self.assertEqual((s["tail"], s["tail_pct"], s["n"]), (30.0, 75, 40))
        self.assertEqual(s["p50"], 20.0)
        # exactly ten samples lie beyond the reported tail
        self.assertEqual(sum(x > s["tail"] for x in range(1, 41)), 10)


class SelfTime(unittest.TestCase):
    def span(self, id, name, start, end, parent):
        return {"id": id, "name": name, "start": start, "end": end, "parent": parent, "op": 0}

    def test_overlapping_children_are_counted_once(self):
        spans = [self.span(0, "exec.write", 0, 100, -1),
                 self.span(1, "exec.job", 10, 40, 0),
                 self.span(2, "exec.job", 30, 60, 0),  # overlaps the first job
                 self.span(3, "planner.planning", 80, 120, 0)]  # runs past its parent
        self.assertEqual(metrics.union_ms([(10, 40), (30, 60), (80, 120)], 0, 100), 70)
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs["exec"], 30 + 30 + 30)  # write's gap plus both jobs
        self.assertEqual(selfs["planner"], 40)

    def test_nested_children_only_cover_their_parent(self):
        spans = [self.span(0, "op.query", 0, 10, -1),
                 self.span(1, "queries.build", 0, 6, 0),
                 self.span(2, "tables.infer", 1, 3, 1)]
        self.assertEqual(metrics.self_times(spans),
                         {"op": 4, "queries": 4, "tables": 2})


class PerPass(unittest.TestCase):
    def test_counts_and_times_are_per_timed_pass(self):
        job = {"stages": 1, "tasks": 2, "failed_tasks": 0, "task_ms": 40, "cpu_ns": 0,
               "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill_mem": 0,
               "spill_disk": 0, "input": 0, "site": "graft.queries.Q.run", "streaming": False}
        ops, spans, jobs = [], [], []
        for i, t in enumerate((0, 100)):  # one query op in each of two passes
            ops.append({"id": i, "kind": "query", "name": "q", "start": t, "end": t + 50})
            spans += [{"id": 2 * i, "name": "op.query", "start": t, "end": t + 50,
                       "parent": -1, "op": i},
                      {"id": 2 * i + 1, "name": "exec.write", "start": t + 10, "end": t + 50,
                       "parent": 2 * i, "op": i}]
            jobs.append(dict(job, id=i, start=t + 20, end=t + 40, span=2 * i + 1, op=i))
        rec = {"ops": ops, "spans": spans, "jobs": jobs, "phases": [], "fs_events": [],
               "progress": [], "upsert": {}, "callback_ms": 0.0, "pass_ms": [60.0, 40.0],
               "setup_ms": {"session.start": 1000.0, "session.warmup": 2000.0}}
        m, _ = metrics.per_layer(rec, cores=1)
        self.assertEqual((m["exec.jobs"], m["exec.tasks"], m["exec.driver_gap_ms"]), (1, 2, 20))
        self.assertEqual(m["exec.busy_ratio"], 0.08 / 0.1)  # task-s over timed s x cores
        self.assertEqual(m["trace.wall_s"], 0.05)  # the median pass


class Classification(unittest.TestCase):
    names = {1: "queries.build", 2: "exec.write", 3: "streaming.read_latest"}

    def job(self, site, span, streaming=False):
        return {"site": site, "span": span, "streaming": streaming}

    def test_caller_in_graft_tables_is_schema_inference(self):
        site = ("org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:1)\n"
                "graft.tables.Tables.t(Tables.scala:15)\n"
                "graft.queries.Joins.joinSemi(Joins.scala:40)")
        self.assertEqual(metrics.classify(self.job(site, 1), self.names), "tables.infer")
        self.assertEqual(metrics.classify(self.job(site, 2), self.names), "tables.infer")

    def test_other_jobs_follow_the_submitting_span(self):
        site = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                "graft.operators.KCore.peel(KCore.scala:9)")
        self.assertEqual(metrics.classify(self.job(site, 1), self.names), "queries.job")
        self.assertEqual(metrics.classify(self.job(site, 2), self.names), "exec.job")
        self.assertEqual(metrics.classify(self.job(site, 3), self.names), "streaming.job")
        self.assertEqual(metrics.classify(self.job(site, -1, True), self.names), "streaming.job")

    def test_first_caller_skips_runtime_frames(self):
        site = "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\nscala.Option.map(Option.scala:2)\n" \
               "graft.tables.Tables.t(Tables.scala:15)"
        self.assertEqual(metrics.first_caller(site), "graft.tables.Tables.t(Tables.scala:15)")


class WrongOutputCountsAsFailed(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def record(self, ops, checked=(), upsert=None):
        return {"identity": {}, "jvm_start": 0.0, "first_op": 1000.0, "probe_ms": 100.0, "dump_ms": 10.0,
                "pass_ms": [2000.0],
                "peak_rss_mb": 100.0, "ops": ops, "checked": list(checked),
                "upsert": upsert or {}}

    def op(self, id, kind, name):
        return {"id": id, "kind": kind, "name": name, "start": 1000.0 + id,
                "end": 1010.0 + id, "ok": True}

    def test_oracle_mismatch_fails_the_query_ops(self):
        sf, dump = os.path.join(self.dir, "sf"), os.path.join(self.dir, "dump")
        os.makedirs(sf)
        for t in ("nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"):
            pd.DataFrame({"x": [1]}).to_parquet(os.path.join(sf, f"{t}.parquet"))
        region = pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"]})
        region.to_parquet(os.path.join(sf, "region.parquet"))
        wrong = region.assign(r_name=["A", "B", "X"])  # one cell off
        for name, df in (("good", region), ("bad", wrong)):
            os.makedirs(os.path.join(dump, name))
            df.to_parquet(os.path.join(dump, name, "part-0.parquet"))
        sql = "SELECT r_regionkey, r_name FROM region"
        with open(os.path.join(dump, "oracle_sql.json"), "w") as fh:
            fh.write('{"good": "%s", "bad": "%s"}' % (sql, sql))
        ops = [self.op(0, "query", "good"), self.op(1, "query", "bad")]
        # dump dir stands in for the run's: evaluate reads <out>/dump
        _, result = run.evaluate(SimpleNamespace(trace=0), self.record(ops, ["bad", "good"]),
                                 self.dir, sf, 4, "stamp", 25)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (2, 1))

    def test_missing_report_counts_as_failed(self):
        out = "PASS a (3 rows)\nFAIL b: rowcount differs\n"
        self.assertEqual(checks.failed_queries(out, ["a", "b", "c"]), ["b", "c"])

    def test_upsert_table_off_the_fold_fails_its_batch(self):
        ts = pd.to_datetime(["2024-02-01 00:00:00", "2024-02-01 00:00:01",
                             "2024-02-01 00:01:00", "2024-02-01 00:01:01"])
        log = pd.DataFrame({"event_id": [0, 1, 2, 3], "ts": ts, "user_id": [7, 7, 8, 7],
                            "event_type": ["a", "b", "c", "d"], "value": [1.0, 2.0, 3.0, 4.0]})
        os.makedirs(os.path.join(self.dir, "changelog"))
        log.to_parquet(os.path.join(self.dir, "changelog", "part-0.parquet"))
        v0 = checks.fold(log, 2, 0)
        self.assertEqual(v0["event_id"].tolist(), [1])  # key 7's later row in batch 0
        final = checks.fold(log, 2, 1)
        self.assertEqual(sorted(final["event_id"].tolist()), [2, 3])
        stale = final.copy()
        stale.loc[stale["user_id"] == 7, "value"] = 2.0  # key 7 not updated by batch 1
        for name, df in (("v0", v0), ("final", stale)):
            os.makedirs(os.path.join(self.dir, "dump", name))
            df.to_parquet(os.path.join(self.dir, "dump", name, "part-0.parquet"))
        up = {"versions_checked": [0], "last_batch": 1, "bytes_written": 10, "live_bytes": 5,
              "shape": {"rows_per_batch": 2, "steps": 2}}
        ops = [self.op(0, "write", "batch0"), self.op(1, "read", "latest"),
               self.op(2, "write", "batch1"), self.op(3, "read", "latest")]
        report, result = run.evaluate(SimpleNamespace(trace=0), self.record(ops, upsert=up),
                                      self.dir, self.dir, 4, "stamp", 25)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertIn("check fold: 1 of 2", "\n".join(report))


if __name__ == "__main__":
    unittest.main()
