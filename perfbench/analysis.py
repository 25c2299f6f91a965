"""Metrics of one benchmark run, derived from the JVM's raw record.

The JVM (`perfbench.Main`) writes what happened: set-up times, every
timed operation, check failures, memory and byte counts, and in a traced
run the spans, Spark jobs and filesystem calls. This module turns that
into the end-to-end metrics (untraced runs) and the per-layer metrics
(traced runs). Times in the records are `System.nanoTime` nanoseconds.
"""

import json
import re
import statistics

# each workload times the operations of the lifecycle phase of its name
WORKLOADS = ("backfill", "steady")

END_TO_END = {
    "setup_s": "s",
    "backfill_partitions_per_s": "1/s",
    "drain_p50_ms": "ms",
    "drain_mean_ms": "ms",
    "point_p50_ms": "ms",
    "scan_p50_ms": "ms",
    "join_p50_ms": "ms",
    "stored_bytes_ratio": "ratio",
    "success_rate": "ratio",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_ms": "ms",
    "spark.task_ms": "ms", "spark.driver_gap_ms": "ms",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "etl.copy_jobs": "count", "etl.copy_job_ms": "ms",
    "etl.discover_jobs": "count", "etl.discover_job_ms": "ms",
    "etl.jobs_per_partition": "ratio",
    "status.fs_ops": "count", "status.fs_ms": "ms", "lock.fs_ops": "count",
    "manifest.jobs": "count", "manifest.job_ms": "ms",
    "manifest.fs_ops": "count", "manifest.fs_ms": "ms",
    "journal.fs_ops": "count", "manifest.full_listings": "count",
    "manifest.ckpt_rows_read": "rows", "manifest.delta_rows_read": "rows",
    "dest.fs_ops": "count", "dest.fs_ms": "ms",
    "dest.files_per_partition": "ratio",
    "fs.creates": "count", "fs.renames": "count", "fs.deletes": "count",
    "fs.mkdirs": "count", "fs.lists": "count", "fs.stats": "count",
    "fs.opens": "count", "fs.op_ms": "ms",
    "readback.plan_ms": "ms", "readback.exec_ms": "ms",
    "readback.jobs": "count", "readback.input_bytes": "bytes",
    "other.jobs": "count",
    "self.driver_ms": "ms", "self.spark_ms": "ms", "self.fs_ms": "ms",
    "trace.overhead_pct": "%",
}

MS = 1e6  # nanoseconds per millisecond

# ------------------------------------------------------------ percentiles

TAILS = (0.999, 0.99, 0.9)


def tail_percentile(n):
    """The highest of p90/p99/p99.9 with at least ten samples beyond it."""
    for p in TAILS:
        if n * (1 - p) >= 10 - 1e-9:
            return p
    return None


def quantile(xs, p):
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summarize(xs):
    """Sample count, median and the tail percentile the count supports."""
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    p = tail_percentile(len(xs))
    if p is not None:
        out["p%g" % (p * 100)] = quantile(xs, p)
    return out

# ------------------------------------------------------------ intervals


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(nodes, parent_of):
    """Self time of each node: its duration minus the part of it that its
    children cover. `nodes` maps id -> (start, end); `parent_of` maps a
    child id to its parent id (children absent from `nodes` are ignored).
    """
    children = {}
    for c, p in parent_of.items():
        if c in nodes and p in nodes:
            children.setdefault(p, []).append(nodes[c])
    out = {}
    for i, (s, e) in nodes.items():
        out[i] = (e - s) - union_length(clip(children.get(i, []), s, e))
    return out

# ------------------------------------------------------------ attribution

# (class pattern, method pattern, module) over the first program frame of
# a job's call site, e.g. `graft.sources.OrcSink$.write(OrcSink.scala:23)`;
# a lambda's frame (`$anonfun$runPrunedIncremental$1`) names its method
SITE_RULES = [
    (r"^graft\.sources\.OrcSink\b", r"", "etl.copy"),
    (r"^graft\.etl\.IncrementalBackup\b", r"discover", "etl.discover"),
    (r"^graft\.etl\.IncrementalBackup\b",
     r"copy|writePruned|runBulk|^run$|\$run\$", "etl.copy"),
    (r"^graft\.etl\.IncrementalBackup\b", r"", "manifest"),
    (r"^graft\.sources\.(ManifestLog|StatsStore|IngestLog|Compaction)\b", r"",
     "manifest"),
    (r"^graft\.etl\.StatusStore\b", r"", "status"),
    (r"^perfbench\.Lifecycle\b", r"^rows$|\$rows\$", "readback"),
    (r"^perfbench\.", r"", "bench"),
]


def site_module(site):
    """Module a job belongs to, from the program frame that submitted it;
    `other` when no rule matches, so no job goes unaccounted."""
    cls, _, method = site.split("(")[0].rpartition(".")
    for cls_pat, method_pat, module in SITE_RULES:
        if re.search(cls_pat, cls) and re.search(method_pat, method):
            return module
    return "other"


def path_area(path):
    """Which store a filesystem call touched, by path."""
    if re.search(r"/_ingest_log(/|$)", path):
        return "journal"
    if path.endswith(".lock") or "/locks/" in path:
        return "lock"
    if re.search(r"_manifest(/|$)", path):
        return "manifest"
    if re.search(r"/root-\d+/status(/|$)", path):
        return "status"
    if re.search(r"/root-\d+/data/", path):
        return "dest"
    if re.search(r"/setup-\d+/(in|lake|stage)(/|$)", path):
        return "source"
    return "other"


def job_modules(jobs, executions):
    """Module per job. Jobs an adaptive plan submits from its own threads
    carry no program frame; they take the frame that started their SQL
    execution (`executions`: execution id -> frame)."""
    return {j["id"]: site_module(j["site"] or executions.get(j["execution"], ""))
            for j in jobs}

# ------------------------------------------------------------ end to end


def ms(op):
    return (op["end"] - op["start"]) / MS


def end_to_end(res):
    ops = [o for o in res["ops"] if o["ok"]]
    backfills = [o for o in ops if o["kind"] == "backfill"]
    drains = [ms(o) for o in ops if o["kind"] == "drain"]

    def p50(kind):
        xs = [ms(o) for o in ops if o["kind"] == kind and o["phase"] == "readback"]
        return statistics.median(xs) if xs else 0.0

    wall = sum(ms(o) for o in backfills) / 1e3
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "backfill_partitions_per_s":
            sum(o.get("partitions", 0) for o in backfills) / wall if wall else 0.0,
        "drain_p50_ms": statistics.median(drains) if drains else 0.0,
        "drain_mean_ms": statistics.fmean(drains) if drains else 0.0,
        "point_p50_ms": p50("query.point"),
        "scan_p50_ms": p50("query.scan"),
        "join_p50_ms": p50("query.join"),
        "stored_bytes_ratio": res["stored_bytes"] / res["source_bytes"],
        "success_rate": 1.0 - res["failed"] / res["attempted"],
        "peak_rss_mb": res["rss_mb"],
    }


def latency_summary(res):
    """Per operation kind: sample count, median and supported tail, in ms."""
    kinds = {}
    for o in res["ops"]:
        if o["ok"] and o["phase"] not in ("check", "warmup"):
            kinds.setdefault(o["kind"], []).append(ms(o))
    return {k: summarize(v) for k, v in sorted(kinds.items())}

# ------------------------------------------------------------ per layer


def load_trace(path):
    """(spans, jobs, fs calls, execution id -> program frame)."""
    spans, jobs, fs, execs = [], [], [], {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r["t"] == "exec":
                execs[r["id"]] = r["site"]
            else:
                {"span": spans, "job": jobs, "fs": fs}[r["t"]].append(r)
    return spans, jobs, fs, execs


def per_layer(res, trace):
    """Per-layer metrics of a traced run, and per-op-kind shares of wall time.

    Counts and times cover the operations of the phase named after the
    workload, except `readback.*`, which cover the timed read-back rounds
    that every workload runs. `trace.overhead_pct` compares those rounds
    with the untraced rounds interleaved between them.
    """
    spans, jobs, fs, execs = trace
    phase_of = {o["id"]: o["phase"] for o in res["ops"]}
    timed = {o["id"]: o for o in res["ops"]
             if o["phase"] in ("backfill", "steady", "readback")}
    op_iv = {i: (o["start"], o["end"]) for i, o in timed.items()}

    def owner(rec):
        """Op a job or fs call belongs to: its recorded op, else by time."""
        if rec.get("op", 0) > 0:
            return rec["op"]
        for i, (s, e) in op_iv.items():
            if s <= rec["start"] < e:
                return i
        return 0

    jobs = [j for j in jobs if j["end"] >= j["start"]]
    for r in jobs + fs:
        r["owner"] = owner(r)
    mod = job_modules(jobs, execs)
    span_name = {s["id"]: s["name"] for s in spans}
    focus = res["workload"]
    in_focus = lambda r: phase_of.get(r["owner"]) == focus  # noqa: E731
    fjobs = [j for j in jobs if in_focus(j)]
    ffs = [c for c in fs if in_focus(c)]

    m = {k: 0.0 for k in PER_LAYER}
    m["spark.jobs"] = len(fjobs)
    for j in fjobs:
        dur = (j["end"] - j["start"]) / MS
        m["spark.tasks"] += j["tasks"]
        m["spark.job_ms"] += dur
        m["spark.task_ms"] += j["task_ms"]
        m["spark.input_bytes"] += j["in_bytes"]
        m["spark.output_bytes"] += j["out_bytes"]
        m["spark.shuffle_bytes"] += j["shuffle_bytes"]
        module = mod[j["id"]]
        if module in ("etl.copy", "etl.discover"):
            m[module + "_jobs"] += 1
            m[module + "_job_ms"] += dur
        elif module == "manifest":
            m["manifest.jobs"] += 1
            m["manifest.job_ms"] += dur
        elif module == "other":
            m["other.jobs"] += 1
    for j in jobs:
        if phase_of.get(j["owner"]) == "readback" and \
                span_name.get(j["parent"], "").startswith("readback."):
            m["readback.jobs"] += 1
            m["readback.input_bytes"] += j["in_bytes"]
    for sp in spans:
        if phase_of.get(sp["op"]) == "readback" and sp["name"] in ("readback.plan", "readback.exec"):
            m[sp["name"] + "_ms"] += (sp["end"] - sp["start"]) / MS

    kinds = {"create": "fs.creates", "rename": "fs.renames", "delete": "fs.deletes",
             "mkdirs": "fs.mkdirs", "list": "fs.lists", "stat": "fs.stats",
             "open": "fs.opens"}
    for c in ffs:
        dur = (c["end"] - c["start"]) / MS
        m[kinds[c["kind"]]] += 1
        m["fs.op_ms"] += dur
        area = path_area(c["path"])
        if area in ("status", "manifest", "dest"):
            m[area + ".fs_ops"] += 1
            m[area + ".fs_ms"] += dur
        elif area in ("lock", "journal"):
            m[area + ".fs_ops"] += 1

    fops = [o for o in timed.values() if o["phase"] == focus]
    partitions = sum(o.get("partitions", 0) for o in fops) + \
        sum(1 for o in fops if o["kind"] == "drain" and o["ok"])
    if partitions:
        m["etl.jobs_per_partition"] = \
            (m["etl.copy_jobs"] + m["etl.discover_jobs"]) / partitions
    for o in fops:
        if o["kind"] == "drain":
            m["manifest.full_listings"] += o.get("full_listings", 0)
            m["manifest.ckpt_rows_read"] += o.get("ckpt_rows_read", 0)
            m["manifest.delta_rows_read"] += o.get("delta_rows_read", 0)
    m["dest.files_per_partition"] = res["dest_files"] / res["dest_partitions"]

    # the span tree of the focus ops: op and call spans, jobs under the span
    # that submitted them, driver-thread fs calls under their span,
    # task-thread fs calls under the job that ran their stage
    nodes, parent, layer = {}, {}, {}
    for sp in spans:
        if phase_of.get(sp["op"]) == focus:
            key = ("s", sp["id"])
            nodes[key] = (sp["start"], sp["end"])
            layer[key] = "driver"
            if sp["parent"]:
                parent[key] = ("s", sp["parent"])
    root_span = {sp["op"]: sp["id"] for sp in spans if not sp["parent"]}
    stage_job = {}
    for j in fjobs:
        key = ("j", j["id"])
        nodes[key] = (j["start"], j["end"])
        layer[key] = "spark"
        parent[key] = ("s", j["parent"] or root_span.get(j["owner"]))
        for st in j["stages"]:
            stage_job[st] = key
    for n, c in enumerate(ffs):
        key = ("f", n)
        nodes[key] = (c["start"], c["end"])
        layer[key] = "fs"
        parent[key] = stage_job.get(c["stage"]) if c["stage"] >= 0 \
            else ("s", c["parent"] or root_span.get(c["owner"]))
    for k, v in self_times(nodes, parent).items():
        m["self.%s_ms" % layer[k]] += v / MS

    # per op kind over every timed op: time in jobs, in driver-thread fs
    # calls outside jobs, and the rest
    shares = {}
    for i, o in timed.items():
        s, e = op_iv[i]
        job_iv = clip([(j["start"], j["end"]) for j in jobs if j["owner"] == i], s, e)
        in_jobs = union_length(job_iv)
        drv_fs = clip([(c["start"], c["end"]) for c in fs
                       if c["owner"] == i and c["stage"] < 0], s, e)
        in_fs = union_length(drv_fs + job_iv) - in_jobs
        if o["phase"] == focus:
            m["spark.driver_gap_ms"] += ((e - s) - in_jobs) / MS
        acc = shares.setdefault(o["kind"], [0, 0, 0, 0])
        acc[0] += 1
        acc[1] += e - s
        acc[2] += in_jobs
        acc[3] += in_fs
    share_out = {k: {"ops": n, "wall_ms": w / MS, "spark": j / w, "fs": f / w,
                     "unattributed": 1 - (j + f) / w}
                 for k, (n, w, j, f) in shares.items() if w}

    def round_ms(phase):
        return sum(statistics.median(
            [ms(o) for o in res["ops"] if o["phase"] == phase and o["kind"] == k] or [0])
            for k in ("query.point", "query.scan", "query.join"))
    base = round_ms("untraced")
    if base:
        m["trace.overhead_pct"] = 100.0 * (round_ms("readback") - base) / base
    return m, share_out
