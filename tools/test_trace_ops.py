"""Tests of tools/trace_ops.py on hand-made records files.

Run from the repository root: python3 -m unittest tools/test_trace_ops.py
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trace_ops  # noqa: E402

SITE = "graft.sources.PartitionedCowTable.stageRows(PartitionedCowTable.scala:{})"
READ = "perfbench.CatalogCycle.read(CatalogCycle.scala:179)"


def records(stage_line, read_jobs, read_ms, rows_per_read_job=0):
    """One traced tick: a `write` op with two jobs at `stage_line` and a
    `read` op taking `read_ms` with `read_jobs` jobs, each of whose stage
    reads `rows_per_read_job` records, plus an untimed op (unit -1) whose
    job must not count."""
    recs = [{"type": "meta", "workload": "w", "trace": True}]
    ops = [(0, -1, "seed", 0, 50), (1, 0, "write", 100, 1_000_100),
           (2, 0, "read", 2_000_000, 2_000_000 + read_ms * 1000)]
    for op, unit, kind, start, end in ops:
        recs.append({"type": "op", "op": op, "unit": unit, "kind": kind,
                     "traced": True, "start": start, "end": end})
    jobs = [(0, SITE.format(stage_line))] + \
        [(1, SITE.format(stage_line))] * 2 + [(2, READ)] * read_jobs
    for n, (op, site) in enumerate(jobs):
        recs += [{"type": "job", "job": n, "start": 0, "op": str(op), "site": site,
                  "sql_exec": "", "stages": 1},
                 {"type": "job_end", "job": n, "end": 1000, "ok": True},
                 {"type": "stage", "stage": n, "job": n, "tasks": 4,
                  "records_read": rows_per_read_job if op == 2 else 0}]
    return recs


class TraceOpsTest(unittest.TestCase):

    def write(self, recs):
        f = tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False)
        with f:
            f.write("\n".join(json.dumps(r) for r in recs) + "\n")
        self.addCleanup(os.remove, f.name)
        return f.name

    def run_main(self, *argv):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            trace_ops.main(list(argv))
        return out.getvalue()

    def test_site_names(self):
        self.assertEqual(trace_ops.site_key(SITE.format(602)),
                         "PartitionedCowTable.stageRows")
        self.assertEqual(trace_ops.short_site(SITE.format(602)),
                         "PartitionedCowTable.stageRows:602")
        self.assertEqual(trace_ops.site_key(
            "graft.operators.ScaleOps$.$anonfun$stage$1(ScaleOps.scala:9)"),
            "ScaleOps.stage")
        self.assertEqual(trace_ops.site_key(""), "(no graft frame)")

    def test_single_run_keeps_line_numbers(self):
        out = self.run_main(self.write(records(602, 3, 300)))
        self.assertIn("PartitionedCowTable.stageRows:602 ×2", out)
        self.assertNotIn("seed", out)

    def test_diff_keys_sites_without_lines(self):
        before = self.write(records(602, 3, 300))
        after = self.write(records(607, 1, 150))
        out = self.run_main("--diff", before, after, "--markdown")
        lines = [l for l in out.splitlines() if l.startswith("| ")]
        self.assertEqual(lines[0].split(" | ")[0], "| op")
        rows = {l.split(" | ")[0][2:]: [c.strip() for c in l.strip("| ").split(" | ")]
                for l in lines[1:]}
        self.assertEqual(set(rows), {"write", "read"})
        # a moved line is the same site, not a vanished and a new one
        self.assertEqual(rows["write"][1:],
                         ["2", "2", "1000", "1000", "1.00", "0", "0",
                          "PartitionedCowTable.stageRows 2→2"])
        self.assertEqual(rows["read"][1:],
                         ["3", "1", "300", "150", "0.50", "0", "0",
                          "CatalogCycle.read 3→1"])

    def test_rows_read_sum_an_ops_stages(self):
        run = trace_ops.metrics.Run(records(602, 3, 300, rows_per_read_job=1200))
        table = {r[0]: r for r in trace_ops.op_table(run)}
        self.assertEqual(table["read"][6], 3600)
        self.assertEqual(table["write"][6], 0)
        out = self.run_main("--markdown", self.write(records(602, 3, 300, 1200)))
        head, _, read = [l for l in out.splitlines() if l.startswith("| ")][:3]
        self.assertIn("rows read", head)
        self.assertEqual(read.split(" | ")[6], "3600")

    def test_diff_shows_rows_read_before_and_after(self):
        before = self.write(records(602, 3, 300, rows_per_read_job=1200))
        after = self.write(records(602, 1, 150, rows_per_read_job=1))
        rows = trace_ops.diff_rows(
            *[trace_ops.op_table(trace_ops.metrics.Run(trace_ops.metrics.load(p)),
                                 trace_ops.site_key) for p in (before, after)])
        read = [r for r in rows if r[0] == "read"][0]
        self.assertEqual(read[6:8], ["3600", "1"])

    def test_diff_lists_an_op_kind_of_one_side(self):
        before = records(602, 3, 300)
        after = [r for r in records(602, 3, 300)
                 if not (r["type"] == "op" and r["kind"] == "read")]
        rows = trace_ops.diff_rows(
            trace_ops.op_table(trace_ops.metrics.Run(before), trace_ops.site_key),
            trace_ops.op_table(trace_ops.metrics.Run(after), trace_ops.site_key))
        read = [r for r in rows if r[0] == "read"][0]
        self.assertEqual(read[1:6], ["3", "-", "300", "-", "-"])

    def test_needs_one_file_or_a_diff(self):
        with contextlib.redirect_stderr(io.StringIO()):
            with self.assertRaises(SystemExit):
                trace_ops.main([])


if __name__ == "__main__":
    unittest.main()
