"""The output checks must catch a wrong answer.

Builds a small transcripts table whose rows are labelled by hand with
their branch, grok outcome and sink, writes it as a correct flagship
output and as a correct committed batch, then corrupts each: one row
dropped, one row moved to the wrong sink. The correct outputs must pass,
each corrupted one must count as one failed operation, and a run with a
corrupted output must not report itself correct.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import run

NGINX = ('10.1.2.3 - frank [05/Mar/2026:10:11:12 +0000] '
         '"GET /index.html HTTP/1.1" 200 512 "-" "curl/8.0" 0.123')

# conv_id, turn_idx, role, text, tool, tags, sink
ROWS = [
    ("c1", 0, "user", NGINX, "none", ["nginx"], "sink_main"),
    ("c1", 1, "assistant", "10.1.2.3 not an access line", "none",
     ["_grok_failure", "nginx"], "sink_errors"),
    ("c1", 2, "system", "alpha=1 beta=2", "none", ["kv"], "sink_errors"),
    ("c2", 0, "tool", '{"level":"info"}', "search", ["json"], "sink_tools"),
    ("c2", 1, "user", "gem line test 7", "none", ["plain"], "sink_main"),
    ("c2", 2, "user", "alpha=1", "code", ["kv"], "sink_tools"),
    ("c3", 0, "assistant", NGINX, "browser", ["nginx"], "sink_tools"),
    ("c3", 1, "user", "", "none", ["plain"], "sink_main"),
]
BUCKET = {"c1": 0, "c2": 0, "c3": 1}


def table(rows, with_sink=True):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "tags", "_sink"]
    data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
    data["turn_idx"] = pa.array(data["turn_idx"], pa.int32())
    data["tags"] = pa.array(data["tags"], pa.list_(pa.string()))
    if not with_sink:
        del data["_sink"], data["tags"]
    return pa.table(data)


def write_flagship(root, rows):
    pq.write_to_dataset(table(rows), root, partition_cols=["_sink"])
    return root


def write_commit(root, rows):
    for b in sorted(set(BUCKET.values())):
        part = [r for r in rows if BUCKET[r[0]] == b]
        os.makedirs(os.path.join(root, "data", f"p{b}"))
        pq.write_table(table(part), os.path.join(root, "data", f"p{b}", "part-0.parquet"))
    os.makedirs(os.path.join(root, "lineage"))
    for b in sorted(set(BUCKET.values())):
        n = sum(1 for r in ROWS if BUCKET[r[0]] == b)
        with open(os.path.join(root, "lineage", f"p{b}.json"), "w") as f:
            json.dump({"partitionId": b, "rows": n, "bytes": 0, "batchId": "b"}, f)
    return root


def dropped(rows):
    return rows[:4] + rows[5:]


def moved(rows):
    r = list(rows[4])
    r[6] = "sink_errors"
    return rows[:4] + [tuple(r)] + rows[5:]


class ChecksCatchWrongOutput(unittest.TestCase):

    def setUp(self):
        os.makedirs(run.STATE, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.STATE)
        inp = os.path.join(self.dir, "input")
        os.makedirs(inp)
        pq.write_table(table(ROWS, with_sink=False), os.path.join(inp, "part-0.parquet"))
        self.con = checks.connect(inp)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def out(self, name):
        return os.path.join(self.dir, name)

    def test_hand_labels_match_the_expected_routing(self):
        got = self.con.execute(
            "SELECT conv_id, turn_idx, sink FROM expected ORDER BY ALL").fetchall()
        self.assertEqual(got, sorted((r[0], r[1], r[6]) for r in ROWS))

    def test_flagship_output(self):
        jobs = [{"out": write_flagship(self.out("good"), ROWS)},
                {"out": write_flagship(self.out("dropped"), dropped(ROWS))},
                {"out": write_flagship(self.out("moved"), moved(ROWS))}]
        self.assertEqual(checks.check_flagship(self.con, jobs[0]["out"]), [])
        self.assertTrue(checks.check_flagship(self.con, jobs[1]["out"]))
        self.assertTrue(checks.check_flagship(self.con, jobs[2]["out"]))
        self.assertEqual(run.check_jobs(self.con, "flagship_route", jobs), (2, 2))

    def test_committed_batch(self):
        line = {"buckets_committed": 2}
        jobs = [{"out": write_commit(self.out("good"), ROWS), "commit": line},
                {"out": write_commit(self.out("dropped"), dropped(ROWS)), "commit": line},
                {"out": write_commit(self.out("moved"), moved(ROWS)), "commit": line}]
        self.assertEqual(checks.check_commit(self.con, jobs[0]["out"], line, 2), [])
        self.assertEqual(run.check_jobs(self.con, "production_commit", jobs, buckets=2),
                         (2, 2))

    def test_wrong_output_makes_the_run_incorrect(self):
        good = {"out": write_flagship(self.out("good"), ROWS)}
        bad = {"out": write_flagship(self.out("moved"), moved(ROWS))}
        failed, wrong = run.check_jobs(self.con, "flagship_route", [good, good])
        self.assertTrue(run.result(2, failed, wrong, {})["correct"])
        failed, wrong = run.check_jobs(self.con, "flagship_route", [good, bad])
        res = run.result(2, failed, wrong, {})
        self.assertEqual((res["failed"], res["correct"]), (1, False))

    def test_a_job_that_threw_is_failed_but_not_wrong(self):
        good = {"out": write_flagship(self.out("good"), ROWS)}
        threw = {"error": "java.lang.IllegalStateException: boom", "wall_s": 1.0}
        failed, wrong = run.check_jobs(self.con, "flagship_route", [good, threw])
        self.assertEqual((failed, wrong), (1, 0))
        self.assertTrue(run.result(2, failed, wrong, {})["correct"])

    def test_commit_line_must_report_every_bucket(self):
        root = write_commit(self.out("good"), ROWS)
        self.assertTrue(checks.check_commit(self.con, root, {"buckets_committed": 1}, 2))


if __name__ == "__main__":
    unittest.main()
