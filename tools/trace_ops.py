#!/usr/bin/env python3
"""Per-op Spark job table from a perfbench trace (records.jsonl).

For every traced op kind: how many ops ran, Spark jobs per op, job wall
ms per op, op wall ms, the widest job in tasks, and the call sites the
jobs came from (the innermost graft.* frame, with a job count each).
Figures are medians over the traced ops of that kind; the site counts
are per op.

Usage:
    python3 tools/trace_ops.py .bench_run/catalog_cycle-s12-t1/records.jsonl
    python3 tools/trace_ops.py --markdown RECORDS > table.md
"""
import argparse
import collections
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
import metrics  # noqa: E402


def short_site(site):
    """`graft.sources.PartitionedCowTable.commit(PartitionedCowTable.scala:893)`
    -> `PartitionedCowTable.commit:893`."""
    if not site:
        return "(no graft frame)"
    cls, meth = site.split("(")[0].split(".")[-2:]
    # closures print as `$anonfun$<method>$<n>`: name the method
    if meth.startswith("$anonfun$"):
        meth = meth.split("$")[2]
    line = site.rsplit(":", 1)[-1].rstrip(")") if ":" in site else "?"
    return f"{cls.rstrip('$')}.{meth}:{line}"


def op_table(run):
    """[(kind, n_ops, jobs, job_ms, op_ms, max_tasks, [(site, jobs/op)])]
    over the traced timed ops, in first-seen order."""
    tasks_of = collections.defaultdict(int)
    for s in run.stages:
        tasks_of[s["job"]] = max(tasks_of[s["job"]], s["tasks"])
    jobs_of = collections.defaultdict(list)
    for j in run.jobs:
        jobs_of[j["op"]].append(j)
    by_kind = collections.OrderedDict()
    for o in run.timed:
        if o["traced"]:
            by_kind.setdefault(o["kind"], []).append(o)
    rows = []
    for kind, ops in by_kind.items():
        per = [jobs_of[o["op"]] for o in ops]
        sites = collections.Counter(short_site(j["site"]) for js in per for j in js)
        rows.append((
            kind, len(ops),
            statistics.median(len(js) for js in per),
            statistics.median(sum(j["end"] - j["start"] for j in js) / 1000.0
                              for js in per),
            statistics.median(run.ms(o) for o in ops),
            max((tasks_of[j["job"]] for js in per for j in js), default=0),
            [(s, c / len(ops)) for s, c in sites.most_common()]))
    return rows


def render(rows, markdown):
    head = ["op", "ops", "jobs/op", "job ms/op", "op ms", "max tasks", "call sites (jobs/op)"]
    lines = []
    for kind, n, jobs, jms, oms, mt, sites in rows:
        site_txt = ", ".join(f"{s} ×{c:g}" for s, c in sites)
        lines.append([kind, str(n), f"{jobs:g}", f"{jms:.0f}", f"{oms:.0f}", str(mt), site_txt])
    if markdown:
        out = ["| " + " | ".join(head) + " |", "|" + "---|" * len(head)]
        out += ["| " + " | ".join(c.replace("|", "\\|") for c in l) + " |" for l in lines]
        return "\n".join(out)
    width = [max(len(r[i]) for r in [head] + lines) for i in range(len(head) - 1)]
    out = []
    for r in [head] + lines:
        out.append("  ".join(c.ljust(w) for c, w in zip(r, width)) + "  " + r[-1])
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("records", help="records.jsonl of a --trace 1 run")
    ap.add_argument("--markdown", action="store_true", help="print a Markdown table")
    a = ap.parse_args(argv)
    rows = op_table(metrics.Run(metrics.load(a.records)))
    if not rows:
        sys.exit("no traced ops in " + a.records)
    print(render(rows, a.markdown))


if __name__ == "__main__":
    main()
