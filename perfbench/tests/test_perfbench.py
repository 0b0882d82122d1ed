"""The benchmark's own tests: generator determinism and the arithmetic
behind the reported metrics, pinned on fixed inputs.

    python3 -m unittest discover -s perfbench/tests    # from the repository root
"""

import hashlib
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import metrics  # noqa: E402

# the line regex graft compiles for the combined LogFormat
COMBINED = re.compile(r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "([^"]*)" (\S+) (\S+) "([^"]*)" "([^"]*)"$')


def tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    SIZES = {"logscan": dict(lines_total=4000, files=4),
             "dedup": dict(docs=300, files=2),
             "stream": dict(files=3, lines_per_file=500)}

    def generate(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        m = gen.generate(workload, os.path.join(d, "in"), seed, **self.SIZES[workload])
        return tree_digest(os.path.join(d, "in")), m

    def test_same_seed_same_bytes(self):
        for w in self.SIZES:
            with self.subTest(workload=w):
                a, ma = self.generate(w, 5)
                b, mb = self.generate(w, 5)
                c, _ = self.generate(w, 6)
                self.assertEqual(a, b)
                self.assertEqual(ma, mb)
                self.assertNotEqual(a, c)

    def test_logscan_manifest_matches_lines(self):
        d = tempfile.mkdtemp()
        m = gen.logscan(d, 9, lines_total=4003, files=4)
        lines = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as fh:
                lines += fh.read().splitlines()
        self.assertEqual(len(lines), m["lines"])
        self.assertEqual(m["lines"], 4000)  # equal files: the remainder is dropped
        bad = [ln for ln in lines if not COMBINED.match(ln)]
        self.assertEqual(len(bad), m["malformed"])
        self.assertGreater(m["malformed"], 0)
        status = {}
        for ln in lines:
            g = COMBINED.match(ln)
            if g:
                status[g.group(6)] = status.get(g.group(6), 0) + 1
        self.assertEqual(status, m["status_counts"])

    def test_dedup_families(self):
        d = tempfile.mkdtemp()
        m = gen.dedup(d, 3, docs=400, files=2)
        self.assertEqual(m["docs"], 400)
        self.assertEqual(len(m["planted_dups"]), 60)  # 15% of the docs are copies
        self.assertFalse(set(m["singletons"]) & set(m["planted_dups"]))

    def test_stream_files_advance_in_event_time(self):
        d = tempfile.mkdtemp()
        m = gen.stream(d, 4, files=3, lines_per_file=200, span_s=60)
        for j, name in enumerate(sorted(os.listdir(d))):
            with open(os.path.join(d, name)) as fh:
                ok = [COMBINED.match(ln) for ln in fh.read().splitlines()]
            self.assertEqual(sum(1 for g in ok if g), m["valid_per_file"][j])
            minutes = {int(g.group(4).split(":")[2]) for g in ok if g}
            self.assertEqual(minutes, {j})


class ArithmeticTest(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 75), 4)
        self.assertEqual(metrics.percentile([10, 20], 75), 17.5)
        self.assertEqual(metrics.percentile([7], 75), 7)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(metrics.covered([], 0, 5), 0)

    def test_self_times(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "bench", "startMs": 0, "endMs": 100},
            {"id": 2, "parent": 1, "layer": "logs", "startMs": 10, "endMs": 50},
            {"id": 3, "parent": 1, "layer": "sql", "startMs": 40, "endMs": 90},
            {"id": 4, "parent": 3, "layer": "sql", "startMs": 60, "endMs": 70},
        ]
        self.assertEqual(metrics.self_times(spans), {1: 20, 2: 40, 3: 40, 4: 10})
        self.assertEqual(metrics.layer_self_ms(spans), {"bench": 20, "logs": 40, "sql": 50})

    def test_stream_batches_hang_under_their_file(self):
        spans = [{"id": 1, "parent": 0, "name": "operation", "layer": "bench", "iter": 1,
                  "startMs": 0, "endMs": 1000},
                 {"id": 2, "parent": 1, "name": "file", "layer": "streaming", "iter": 1,
                  "startMs": 100, "endMs": 900}]
        progress = [
            {"batch": 7, "start_ms": 150, "duration_ms": {
                "triggerExecution": 500, "latestOffset": 10, "walCommit": 20, "getBatch": 5,
                "queryPlanning": 30}},
            {"batch": 8, "start_ms": 950, "duration_ms": {"triggerExecution": 20}},
        ]
        extra = metrics.stream_spans(spans, progress)
        self.assertEqual(len(extra), 2)  # batch 8 started outside any file
        batch, plan = extra
        self.assertEqual((batch["parent"], batch["startMs"], batch["endMs"]), (2, 150, 650))
        self.assertEqual((plan["parent"], plan["layer"], plan["startMs"], plan["endMs"]),
                         (batch["id"], "sql", 185, 215))
        own = metrics.layer_self_ms(spans + extra)
        self.assertEqual(own["streaming"], 300 + 470)  # file idle + batch minus planning
        self.assertEqual(own["sql"], 30)


class CheckTest(unittest.TestCase):
    MANIFEST = {"lines": 10, "malformed": 1, "status_counts": {"200": 6, "404": 3},
                "status_hour_counts": {"200|1": 4, "200|2": 2, "404|1": 3},
                "top_paths": [["/a", 5], ["/b", 4]]}

    def output(self, **kw):
        out = {"total_rows": 10, "parse_errors": 1, "schema": metrics.COMBINED_SCHEMA,
               "status_hour_counts": {"200|1": 4, "200|2": 2, "404|1": 3},
               "path_counts": {"/a": 5, "/b": 4}}
        out.update(kw)
        return out

    def test_logscan_checks(self):
        m = dict(self.MANIFEST)
        self.assertEqual(metrics.check_logscan(self.output(), m), [])
        self.assertEqual(len(metrics.check_logscan(self.output(parse_errors=0), m)), 1)
        raw_only = [["log_file", "string"], ["parse_error", "boolean"], ["raw_line", "string"]]
        self.assertEqual(len(metrics.check_logscan(self.output(schema=raw_only), m)), 1)

    def test_dedup_checks(self):
        m = {"singletons": [1, 2], "planted_dups": [4, 5]}
        first = metrics.digest([1, 2, 3, 5])
        self.assertEqual(metrics.check_dedup({"survivors": [1, 2, 3, 5]}, m, first), [])
        self.assertEqual(len(metrics.check_dedup({"survivors": [1, 3]}, m, first)), 2)
        self.assertEqual(metrics.dup_recall({"survivors": [1, 2, 3, 5]}, m), 0.5)

    def test_stream_check_counts_fed_files(self):
        m = {"valid_per_file": [10, 20, 30]}
        end = {"files": ["part-0001.log", "part-0002.log"], "session_events": 50}
        self.assertEqual(metrics.check_stream_end(end, m), [])
        self.assertEqual(len(metrics.check_stream_end(dict(end, session_events=49), m)), 1)


if __name__ == "__main__":
    unittest.main()
