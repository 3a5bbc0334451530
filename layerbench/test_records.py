#!/usr/bin/env python3
"""Self-check of the committed traced records (layerbench/records/*.json).

Re-derives, from each record's own numbers, the rules a traced pass's
layer totals must meet, and checks that the span tree is well formed:

  - sched.outside_jobs_s <= the pass's wall time;
  - exec.run_s <= cores x the union of job intervals (2% slack for the
    tasks a finished job leaves running);
  - store builds + hits = store accesses;
  - every started job has ended;
  - every span's parent exists and starts no later than the span (1 ms
    slack for Spark's millisecond stamps), and no self time is negative.

Usage: python3 layerbench/test_records.py
"""
import glob
import json
import os
import unittest

RECORDS = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                        "records", "*.json")))


class RecordsReconcile(unittest.TestCase):

    def test_records_exist(self):
        self.assertTrue(RECORDS, "no committed traced records")

    def test_layer_totals_reconcile(self):
        for path in RECORDS:
            with open(path) as f:
                r = json.load(f)
            self.assertTrue(r["trace"], path)
            self.assertTrue(r["traced_passes"], path)
            for p in r["traced_passes"]:
                t, where = p["totals"], f"{os.path.basename(path)} pass {p['pass']}"
                self.assertLessEqual(t["sched.outside_jobs_s"], p["wall_s"] + 1e-9, where)
                self.assertLessEqual(t["exec.run_s"], r["cores"] * t["sched.job_s"] * 1.02 + 0.01, where)
                self.assertEqual(t["store.builds"] + t["store.hits"], t["store.accesses"], where)
                self.assertEqual(t["sched.open_jobs"], 0, where)
            self.assertEqual([b for p in r["reconcile"] for b in p["broken"]], [], path)
            self.assertEqual(r["failed_frac"], 0, path)

    def test_span_tree(self):
        for path in RECORDS:
            with open(path) as f:
                spans = json.load(f)["spans_first_traced_pass"]
            self.assertTrue(spans, path)
            by_id = {s["id"]: s for s in spans}
            for s in spans:
                self.assertLessEqual(s["start_ms"], s["end_ms"] + 1, s)
                if s["parent"] < 0:
                    self.assertEqual(s["kind"], "pass", s)
                    continue
                parent = by_id[s["parent"]]
                self.assertGreaterEqual(s["start_ms"], parent["start_ms"] - 1, s)
            with open(path) as f:
                kinds = json.load(f)["span_kinds"]
            for kind, k in kinds.items():
                self.assertGreaterEqual(k["self_s"], -1e-6, (path, kind))
                self.assertLessEqual(k["self_s"], k["total_s"] + 1e-6, (path, kind))


if __name__ == "__main__":
    unittest.main()
