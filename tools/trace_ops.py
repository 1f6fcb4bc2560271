#!/usr/bin/env python3
"""Per-op Spark job table from a perfbench trace (records.jsonl).

For every traced op kind: how many ops ran, Spark jobs per op, job wall
ms per op, op wall ms, the widest job in tasks, the rows read per op,
and the call sites the jobs came from (the innermost graft.* frame, with
a job count each). Rows read are the op's stages' summed input records:
one per parquet row, and one per element of a cached block (a columnar
cache stores one batch per element). Figures are medians over the traced
ops of that kind; the site counts are per op.

With --diff BEFORE AFTER it prints two traces side by side: per op kind,
jobs/op, op ms and rows read before and after, and the call sites keyed
by `Class.method` alone, so a site keeps its name when an edit moves its
line.

Usage:
    python3 tools/trace_ops.py .bench_run/catalog_cycle-s12-t1/records.jsonl
    python3 tools/trace_ops.py --markdown RECORDS > table.md
    python3 tools/trace_ops.py --diff BEFORE AFTER [--markdown]
"""
import argparse
import collections
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
import metrics  # noqa: E402


def site_key(site):
    """`graft.sources.PartitionedCowTable.commit(PartitionedCowTable.scala:893)`
    -> `PartitionedCowTable.commit`."""
    if not site:
        return "(no graft frame)"
    cls, meth = site.split("(")[0].split(".")[-2:]
    # closures print as `$anonfun$<method>$<n>`: name the method
    if meth.startswith("$anonfun$"):
        meth = meth.split("$")[2]
    return f"{cls.rstrip('$')}.{meth}"


def short_site(site):
    """`site_key` plus the line: `PartitionedCowTable.commit:893`."""
    if not site:
        return site_key(site)
    line = site.rsplit(":", 1)[-1].rstrip(")") if ":" in site else "?"
    return f"{site_key(site)}:{line}"


def op_table(run, site_name=short_site):
    """[(kind, n_ops, jobs, job_ms, op_ms, max_tasks, rows_read,
    [(site, jobs/op)])] over the traced timed ops, in first-seen order;
    `site_name` names a job's call site."""
    tasks_of = collections.defaultdict(int)
    read_of = collections.defaultdict(int)
    for s in run.stages:
        tasks_of[s["job"]] = max(tasks_of[s["job"]], s["tasks"])
        read_of[s["job"]] += s.get("records_read", 0)
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
        sites = collections.Counter(site_name(j["site"]) for js in per for j in js)
        rows.append((
            kind, len(ops),
            statistics.median(len(js) for js in per),
            statistics.median(sum(j["end"] - j["start"] for j in js) / 1000.0
                              for js in per),
            statistics.median(run.ms(o) for o in ops),
            max((tasks_of[j["job"]] for js in per for j in js), default=0),
            statistics.median(sum(read_of[j["job"]] for j in js) for js in per),
            [(s, c / len(ops)) for s, c in sites.most_common()]))
    return rows


def diff_rows(before, after):
    """Rows of the side-by-side table of two `op_table`s keyed by
    `site_key`: every op kind of either run, the before run's order
    first."""
    b = {r[0]: r for r in before}
    a = {r[0]: r for r in after}
    kinds = [r[0] for r in before] + [r[0] for r in after if r[0] not in b]
    lines = []
    for k in kinds:
        rb, ra = b.get(k), a.get(k)
        sb = dict(rb[7]) if rb else {}
        sa = dict(ra[7]) if ra else {}
        order = list(sb) + [s for s in sa if s not in sb]
        site_txt = ", ".join(f"{s} {sb.get(s, 0):g}→{sa.get(s, 0):g}" for s in order)
        ratio = f"{ra[4] / rb[4]:.2f}" if rb and ra and rb[4] > 0 else "-"
        lines.append([k,
                      f"{rb[2]:g}" if rb else "-", f"{ra[2]:g}" if ra else "-",
                      f"{rb[4]:.0f}" if rb else "-", f"{ra[4]:.0f}" if ra else "-",
                      ratio,
                      f"{rb[6]:g}" if rb else "-", f"{ra[6]:g}" if ra else "-",
                      site_txt])
    return lines


DIFF_HEAD = ["op", "jobs/op before", "jobs/op after", "op ms before",
             "op ms after", "ms after/before", "rows read before", "rows read after",
             "call sites (jobs/op before→after)"]


def render(rows, markdown):
    head = ["op", "ops", "jobs/op", "job ms/op", "op ms", "max tasks", "rows read",
            "call sites (jobs/op)"]
    lines = []
    for kind, n, jobs, jms, oms, mt, read, sites in rows:
        site_txt = ", ".join(f"{s} ×{c:g}" for s, c in sites)
        lines.append([kind, str(n), f"{jobs:g}", f"{jms:.0f}", f"{oms:.0f}", str(mt),
                      f"{read:g}", site_txt])
    return layout(head, lines, markdown)


def layout(head, lines, markdown):
    """`lines` under `head` as a Markdown table or aligned columns, the
    last column unpadded."""
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
    ap.add_argument("records", nargs="?", help="records.jsonl of a --trace 1 run")
    ap.add_argument("--diff", nargs=2, metavar=("BEFORE", "AFTER"),
                    help="two records.jsonl files to print side by side")
    ap.add_argument("--markdown", action="store_true", help="print a Markdown table")
    a = ap.parse_args(argv)
    if (a.records is None) == (a.diff is None):
        ap.error("give one RECORDS file, or --diff BEFORE AFTER")
    tables = []
    for path in a.diff or [a.records]:
        rows = op_table(metrics.Run(metrics.load(path)),
                        site_key if a.diff else short_site)
        if not rows:
            sys.exit("no traced ops in " + path)
        tables.append(rows)
    if a.diff:
        print(layout(DIFF_HEAD, diff_rows(*tables), a.markdown))
    else:
        print(render(tables[0], a.markdown))


if __name__ == "__main__":
    main()
