"""Turn one run's records (records.jsonl) into end-to-end and per-layer
metrics. Pure functions over plain dicts, so they are unit-tested without
a JVM.

Record types written by the Scala side: meta, op, unit, span, fact, job,
job_end, stage, sql, qe, stream. Times are epoch microseconds.
"""
import json
import math
import statistics

# Module directories under src/main/scala/graft, used as layer names.
MODULES = {"catalog", "examples", "functions", "model", "multimodal",
           "operators", "pipeline", "plans", "queries", "sources",
           "streaming"}

# Layers whose self time the traced run reports as a share of op wall.
SELF_LAYERS = ["bench", "queries", "action", "exec", "Tables", "operators",
               "sources", "catalog", "pipeline", "streaming"]


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---- percentiles and the sample-count rule

def percentile(values, p):
    """Linear-interpolated percentile (numpy's default), p in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_tail(n, candidates=(90, 99, 99.9)):
    """The highest percentile with at least ten samples beyond it, or None
    when `n` samples support none of `candidates`."""
    ok = [p for p in candidates if n * (100 - p) / 100.0 >= 10 - 1e-9]
    return max(ok) if ok else None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---- span self time

def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    its children cover (children clipped to the parent, overlaps merged).
    `spans` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - _covered(kids.get(s["id"], []),
                                                        s["start"], s["end"])
            for s in spans}


def layer_self_times(spans, layer_of):
    """Sum of self time per layer; `layer_of(span)` names a span's layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[layer_of(s)] = out.get(layer_of(s), 0) + st[s["id"]]
    return out


# ---- call sites

def site_module(site):
    """Layer of a call-site frame such as
    `graft.operators.ScaleOps$.pagerank(ScaleOps.scala:120)`: the module
    directory, `Tables` for the table registry, `exec` for the
    benchmark's own final action and for frames outside the repo."""
    if not site.startswith("graft."):
        return "exec"
    parts = site.split("(")[0].split(".")
    if len(parts) > 2 and parts[1] in MODULES:
        return parts[1]
    return parts[1].rstrip("$") if len(parts) > 1 else "exec"


def site_file(site):
    """`ScaleOps` from `...(ScaleOps.scala:120)`."""
    if "(" not in site:
        return ""
    return site.split("(")[-1].split(".")[0]


# ---- one run

class Run:
    """Index over one run's records."""

    def __init__(self, records):
        self.meta = {}
        for r in records:
            if r["type"] == "meta":
                self.meta.update(r)
        by = {}
        for r in records:
            by.setdefault(r["type"], []).append(r)
        self.ops = by.get("op", [])
        self.units = by.get("unit", [])
        self.spans = by.get("span", [])
        self.facts = by.get("fact", [])
        self.stages = by.get("stage", [])
        self.qes = by.get("qe", [])
        self.streams = by.get("stream", [])
        sql = {r["exec"]: r["site"] for r in by.get("sql", [])}
        ends = {r["job"]: r for r in by.get("job_end", [])}
        self.jobs = []
        for j in by.get("job", []):
            e = ends.get(j["job"])
            if e is None:
                continue
            site = j["site"] or sql.get(j["sql_exec"], "")
            self.jobs.append(dict(j, end=e["end"], ok=e["ok"], site=site,
                                  module=site_module(site), file=site_file(site),
                                  op=int(j["op"]) if j["op"] else -1))
        self.timed = [o for o in self.ops if o["unit"] >= 0]

    def ms(self, o):
        return (o["end"] - o["start"]) / 1000.0


def failures(run, extra=()):
    """(attempted, [(op kind, reason)]) over every op of the run; `extra`
    adds failures found outside the JVM (oracle mismatches)."""
    bad = [(o["kind"], o["err"]) for o in run.ops if not o["ok"]]
    return len(run.ops), bad + list(extra)


def end_to_end(run, workload):
    """Every end-to-end metric that applies to `workload`, as
    {name: (value, unit)}, plus sample counts under `samples`."""
    timed = run.timed
    if not timed:
        raise ValueError("no timed ops")
    units = [u for u in run.units]
    wall_s = sum(u["end"] - u["start"] for u in units) / 1e6
    reads = [run.ms(o) for o in timed if o["cls"] == "read"]
    writes = [run.ms(o) for o in timed if o["cls"] == "write"]
    kinds = {}
    for o in timed:
        kinds.setdefault(o["kind"], []).append(run.ms(o))
    m = {
        "setup_s": ((run.meta["setup_end"] - run.meta["jvm_start"]) / 1e6, "s"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "op_geomean_ms": (geomean([statistics.median(v) for v in kinds.values()]), "ms"),
        "ops_per_s": (len(timed) / wall_s, "1/s"),
        "pass_s": (statistics.median([(u["end"] - u["start"]) / 1e6 for u in units]), "s"),
        "peak_rss_mb": (run.meta["peak_rss_kb"] / 1024.0, "MB"),
    }
    tail = reportable_tail(len(reads))
    if tail:
        m[f"read_p{tail:g}_ms"] = (percentile(reads, tail), "ms")
    if writes:
        m["write_p50_ms"] = (statistics.median(writes), "ms")
        tail = reportable_tail(len(writes))
        if tail:
            m[f"write_p{tail:g}_ms"] = (percentile(writes, tail), "ms")
    if workload == "catalog_cycle":
        timed_ids = {o["op"] for o in timed}
        ard = sum(f.get("succeeded", 0) for f in run.facts
                  if f["kind"] == "step_ard" and f["op"] in timed_ids)
        m["scenes_per_s"] = (ard / wall_s, "1/s")
        m["space_amp"] = (run.meta["table_bytes"] / run.meta["live_bytes"], "ratio")
    if workload == "pipeline_heavy":
        m["geomean_job_s"] = (geomean(reads) / 1000.0, "s")
    samples = {"reads": len(reads), "writes": len(writes), "ops": len(timed),
               "units": len(units)}
    return m, samples


def per_layer(run):
    """Per-layer metrics from the traced units, as {name: (value, unit)};
    per-op figures are means over the traced ops."""
    ops = [o for o in run.timed if o["traced"]]
    if not ops:
        raise ValueError("no traced ops")
    n = len(ops)
    ids = {o["op"] for o in ops}
    jobs = [j for j in run.jobs if j["op"] in ids]
    stage_of = {}
    for s in run.stages:
        stage_of.setdefault(s["job"], []).append(s)
    stages = [s for j in jobs for s in stage_of.get(j["job"], [])]
    spans = [s for s in run.spans if s["op"] in ids]
    span_by_id = {s["id"]: s for s in spans}
    facts = [f for f in run.facts if f["op"] in ids]
    wall = sum(run.ms(o) for o in ops)

    def jwall(js):
        return sum(j["end"] - j["start"] for j in js) / 1000.0

    def task(js, key):
        keep = {j["job"] for j in js}
        return sum(s[key] for s in stages if s["job"] in keep)

    def fact_sum(key):
        return sum(f.get(key, 0) for f in facts)

    def mean_ms(pred):
        xs = [run.ms(o) for o in ops if pred(o["kind"])]
        return statistics.mean(xs) if xs else 0.0

    # spans of the lazily-built DataFrame (query function, catalogue read)
    build = [s for s in spans if s["name"].startswith("build:") or s["layer"] == "catalog"]
    build_ids = {s["id"] for s in build}
    tables = [j for j in jobs if j["module"] == "Tables"]
    operators = [j for j in jobs if j["module"] == "operators"]
    no_job = 0.0
    for o in ops:
        ivs = [(j["start"], j["end"]) for j in jobs if j["op"] == o["op"]]
        no_job += (o["end"] - o["start"]) - _covered(ivs, o["start"], o["end"])
    phases = {k: 0.0 for k in ("analysis_ms", "optimization_ms", "planning_ms")}
    for q in run.qes:
        if any(o["start"] <= q["start"] <= o["end"] for o in ops):
            for k in phases:
                phases[k] += q[k]
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    tasks = task(jobs, "tasks")
    commits = fact_sum("commits")
    write_ops = {o["op"] for o in ops if o["cls"] == "write"}
    write_jobs = [j for j in jobs if j["op"] in write_ops]
    new_rows = fact_sum("new_rows")
    row_bytes = run.meta.get("live_bytes", 0) / max(1, run.meta.get("live_rows", 1))
    read_ops = {o["op"] for o in ops if o["kind"].startswith("read_")}
    returned = sum(o["rows"] for o in ops if o["op"] in read_ops)
    read_records = task([j for j in jobs if j["op"] in read_ops], "records_read")
    self_t = layer_self_times(spans + [_job_span(j) for j in jobs if j["span"]],
                              lambda s: s["layer"])

    m = {
        "tables.jobs_per_op": (len(tables) / n, "count"),
        "tables.ms_per_op": (jwall(tables) / n, "ms"),
        "catalyst.analysis_ms": (phases["analysis_ms"] / n, "ms"),
        "catalyst.optimization_ms": (phases["optimization_ms"] / n, "ms"),
        "catalyst.planning_ms": (phases["planning_ms"] / n, "ms"),
        "driver.build_ms": (sum(s["end"] - s["start"] for s in build) / 1000.0 / n, "ms"),
        "driver.action_ms": ((wall - sum(s["end"] - s["start"] for s in build) / 1000.0) / n, "ms"),
        "driver.build_jobs": (sum(1 for j in jobs if _under(j, build_ids, span_by_id)) / n, "count"),
        "driver.action_jobs": (sum(1 for j in jobs if not _under(j, build_ids, span_by_id)) / n, "count"),
        "driver.no_job_ms": (no_job / 1000.0 / n, "ms"),
        "operators.jobs": (len(operators) / n, "count"),
        "operators.task_ms": (task(operators, "task_ms") / n, "ms"),
        "exec.tasks": (tasks / n, "count"),
        "exec.task_ms": (task(jobs, "task_ms") / n, "ms"),
        "exec.gc_ms": (task(jobs, "gc_ms") / n, "ms"),
        "exec.cpu_ms": (sum(o["cpu"] for o in ops) / 1000.0 / n, "ms"),
        "exec.shuffle_read_bytes": (task(jobs, "shuffle_read_bytes") / n, "bytes"),
        "exec.shuffle_write_bytes": (task(jobs, "shuffle_write_bytes") / n, "bytes"),
        "exec.spill_bytes": (task(jobs, "spill_bytes") / n, "bytes"),
        "exec.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
        "exec.task_fail_frac": (task(jobs, "failed_tasks") / tasks if tasks else 0.0, "frac"),
        "exec.staged_bytes_peak": (max(max(o["staged_bytes"] for o in ops), 0), "bytes"),
        "storage.commits": (commits / sum(1 for u in run.units if u["traced"]), "count"),
        "storage.jobs_per_commit": (len(write_jobs) / commits if commits else 0.0, "count"),
        "storage.write_amp": (fact_sum("bytes_added") / (new_rows * row_bytes)
                              if new_rows and row_bytes else 0.0, "ratio"),
        "storage.files_per_commit": (fact_sum("files_added") / commits if commits else 0.0, "count"),
        "storage.dirs_listed_frac": (fact_sum("dirs_listed") / fact_sum("dirs_total")
                                     if fact_sum("dirs_total") else 0.0, "frac"),
        "storage.compact_ms": (mean_ms(lambda k: k == "compact"), "ms"),
        "catalog.read_ms": (mean_ms(lambda k: k.startswith("read_")), "ms"),
        "catalog.rows_read_per_row_returned": (read_records / returned if returned else 0.0, "ratio"),
        "pipeline.step_ms": (mean_ms(lambda k: k.startswith("step_")), "ms"),
        "pipeline.step_ok_frac": (fact_sum("succeeded") / fact_sum("processed")
                                  if fact_sum("processed") else 0.0, "frac"),
        "ingest.ms": (mean_ms(lambda k: k == "ingest"), "ms"),
        "ingest.new_row_frac": (new_rows / fact_sum("page_rows")
                                if fact_sum("page_rows") else 0.0, "frac"),
        "trace.overhead_frac": (overhead(run.timed), "frac"),
    }
    # no workload drives a stream yet; report the layer once one does
    if run.streams:
        m["streaming.batches"] = (float(len(run.streams)), "count")
        m["streaming.batch_ms"] = (statistics.mean(s["batch_ms"] for s in run.streams), "ms")
        m["streaming.state_rows"] = (float(sum(s["state_rows"] for s in run.streams)), "count")
    for layer in SELF_LAYERS:
        m[f"self.{layer}_frac"] = (self_t.get(layer, 0) / 1000.0 / wall, "frac")
    by_file = {}
    for j in operators:
        by_file[j["file"]] = by_file.get(j["file"], 0) + task([j], "task_ms")
    return m, {"operators.task_ms_by_file": {k: v / n for k, v in sorted(by_file.items())},
               "traced_ops": n}


def overhead(timed):
    """Tracing overhead on op latency: the geometric mean, over op kinds
    timed both traced and untraced, of median traced over median untraced
    latency, minus one."""
    by = {}
    for o in timed:
        by.setdefault((o["kind"], o["traced"]), []).append(o["end"] - o["start"])
    ratios = [statistics.median(by[(k, True)]) / statistics.median(by[(k, False)])
              for k, t in by if t and (k, False) in by]
    return geomean(ratios) - 1.0 if ratios else 0.0


def _under(job, span_ids, span_by_id):
    """Whether a job started inside one of `span_ids` (or their children)."""
    sid = int(job["span"]) if job["span"] else 0
    while sid:
        if sid in span_ids:
            return True
        sid = span_by_id[sid]["parent"] if sid in span_by_id else 0
    return False


def _job_span(job):
    return {"id": f"job{job['job']}", "parent": int(job["span"]),
            "start": job["start"], "end": job["end"], "layer": job["module"]}


def _covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
