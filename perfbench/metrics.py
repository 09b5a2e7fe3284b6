"""Metric arithmetic for the graft benchmark: tail percentiles, span self
time, job attribution, and the end-to-end and per-layer metric sets
computed from one run record written by the JVM client."""
import math
import re
import statistics

import numpy as np

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

# percentiles a tail may be reported at, highest first
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10

SPARK_OPS = ("load", "insert", "query", "unload", "batch", "append", "merge",
             "delete", "point_read", "range_read", "view_sync", "optimize")
SPARK_FIELDS = ("jobs", "driver_gap_s", "input_mb", "output_mb", "shuffle_mb",
                "executor_cpu_s")
MB = 1e6
# op kinds that hand new rows to the program; their rows count as ingest
INGEST_KINDS = ("load", "insert", "batch", "append", "merge")

# name -> (unit, better), in the order BENCHMARK.json lists them
END_TO_END = {
    "setup_s": ("s", "lower"),
    "commit_mean_s": ("s", "lower"),
    "commit_tail_s": ("s", "lower"),
    "read_mean_s": ("s", "lower"),
    "read_tail_s": ("s", "lower"),
    "ingest_rows_per_s": ("rows/s", "higher"),
    "bytes_written_per_input_byte": ("ratio", "lower"),
}


def _per_layer():
    units = {"jobs": "count", "driver_gap_s": "s", "input_mb": "MB", "output_mb": "MB",
             "shuffle_mb": "MB", "executor_cpu_s": "s"}
    out = {f"spark.{op}.{f}": (units[f], "lower") for op in SPARK_OPS for f in SPARK_FIELDS}
    out.update({
        "core.session_build_s": ("s", "lower"),
        "core.exec.execute_s": ("s", "lower"),
        "core.exec.fetch_s": ("s", "lower"),
        "schema.infer_s": ("s", "lower"),
        "schema.infer_input_mb": ("MB", "lower"),
        "io.load.read_amplification": ("ratio", "lower"),
        "io.unload.query_executions": ("count", "lower"),
        "io.unload.write_amplification": ("ratio", "lower"),
    })
    for layer in ("load", "insert", "unload"):
        out[f"io.{layer}.s"] = ("s", "lower")
        out[f"io.{layer}.rows_per_s"] = ("rows/s", "higher")
    for op in ("append", "merge", "delete", "point_read", "range_read", "view_sync",
               "optimize"):
        out[f"io.manifest.{op}_s"] = ("s", "lower")
    out.update({
        "io.manifest.point_read_segments_opened": ("ratio", "lower"),
        "io.manifest.rows_scanned_per_row_returned": ("ratio", "lower"),
        "io.manifest.segments_live": ("count", "lower"),
        "io.manifest.bytes_rewritten_per_commit": ("bytes", "lower"),
        "streaming.batch_s": ("s", "lower"),
        "streaming.jobs_per_batch_first": ("count", "lower"),
        "streaming.jobs_per_batch_last": ("count", "lower"),
        "streaming.checkpoint_files_per_batch": ("count", "lower"),
        "streaming.index_roots_max": ("count", "lower"),
        "streaming.corpus_segments_end": ("count", "lower"),
        "streaming.accept_ratio": ("ratio", "higher"),
        "streaming.docs_per_s": ("docs/s", "higher"),
        "ext.graph.pagerank_s": ("s", "lower"),
        "ext.graph.jobs_per_iteration": ("count", "lower"),
        "ext.profile.describe_s": ("s", "lower"),
        "trace.overhead_ratio": ("ratio", "lower"),
    })
    return out


PER_LAYER = _per_layer()


def rank(p, n):
    """1-based nearest-rank position of percentile p among n samples."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def tail_percentile(n):
    """Highest grid percentile with at least TAIL_BEYOND of n samples
    above its nearest-rank position; 50 when n is too small for any."""
    for p in TAIL_GRID:
        if n - rank(p, n) >= TAIL_BEYOND:
            return p
    return 50.0


def percentile(values, p):
    """Harrell-Davis estimate of percentile p: the order statistics
    weighted by how much of a Beta((n+1)q, (n+1)(1-q)) distribution falls
    between (i-1)/n and i/n. Every sample counts, so at the few samples of
    one run, which mix operation kinds of different cost, it moves less
    from run to run than the one sample at the nearest rank."""
    n, q = len(values), p / 100
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # a, b >= 1 for every percentile tail_percentile picks: a bounded density
    x = np.linspace(0.0, 1.0, 100001)
    inner = x[1:-1]
    log_pdf = (a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner)
    pdf = np.concatenate(([0.0], np.exp(log_pdf - log_pdf.max()), [0.0]))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    edges = np.round(np.arange(n + 1) / n * (len(x) - 1)).astype(int)
    return float(np.dot(np.diff(cdf[edges]), np.sort(values)))


def union_length(intervals):
    """Total length covered by a set of [t0, t1] intervals."""
    total, end = 0.0, -math.inf
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"]))
                 for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["t1"] - s["t0"]) - union_length([c for c in cover if c[1] > c[0]])
    return out


def attribute_jobs(spans, jobs):
    """Job id -> id of the innermost span open when the job started.
    One client makes the intervals unambiguous."""
    out = {}
    for j in jobs:
        best = None
        for s in spans:
            if s["t0"] <= j["t0"] <= s["t1"] and (best is None or s["t0"] >= best["t0"]):
                best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def op_samples(record, cls=None):
    """Successful measured operations, optionally of one class."""
    return [s for s in record["samples"] if s["round"] >= 0 and s["ok"]
            and (cls is None or s["cls"] == cls)]


def durations(samples):
    return [s["t1"] - s["t0"] for s in samples]


def input_of(sizes, sample):
    """(rows, bytes) of the generated input a sample consumed; (0, 0) for none."""
    return sizes[sample["input"]] if sample["input"] else (0, 0)


def kind_input(record, sizes, kind):
    """Median (rows, bytes) one measured call of `kind` consumed; (0, 0)
    when the run made no such call."""
    got = [input_of(sizes, s) for s in op_samples(record) if s["kind"] == kind]
    if not got:
        return 0, 0
    return statistics.median(r for r, _ in got), statistics.median(b for _, b in got)


def end_to_end(record, sizes):
    """The end-to-end metrics of one untraced run. `sizes` maps each
    generated input a sample names to the (rows, bytes) it hands to the
    program. Returns (metrics, notes) where notes carry each tail's
    percentile and every sample count."""
    commits = op_samples(record, cls="commit")
    reads = op_samples(record, cls="read")
    metrics, notes = {}, {}
    metrics["setup_s"] = statistics.median(record["setup_s"])
    notes["setup_s"] = {"n": len(record["setup_s"])}
    for name, group in (("commit", commits), ("read", reads)):
        d = durations(group)
        p = tail_percentile(len(d))
        metrics[f"{name}_mean_s"] = statistics.mean(d)
        metrics[f"{name}_tail_s"] = percentile(d, p)
        notes[f"{name}_mean_s"] = {"n": len(d)}
        notes[f"{name}_tail_s"] = {"n": len(d), "percentile": p}
    ingest = [s for s in commits if s["kind"] in INGEST_KINDS]
    rows = sum(input_of(sizes, s)[0] for s in ingest)
    metrics["ingest_rows_per_s"] = rows / sum(durations(ingest))
    notes["ingest_rows_per_s"] = {"n": len(ingest), "rows": rows}
    timed = op_samples(record)
    in_bytes = sum(input_of(sizes, s)[1] for s in timed)
    written = sum(s["fsWritten"] for s in timed)
    metrics["bytes_written_per_input_byte"] = written / in_bytes
    notes["bytes_written_per_input_byte"] = {"written": written, "input": in_bytes}
    assert metrics.keys() == END_TO_END.keys()
    return metrics, notes


def per_layer(record, untraced, sizes, export_rows):
    """Per-layer metrics of one traced run. Every name is emitted on
    every workload; a layer the workload never calls reads 0.
    `untraced` is the record of the untraced run on the same seed,
    `sizes` as for end_to_end, `export_rows` the rows one unload exports."""
    spans, jobs = record["spans"], record["jobs"]
    by_id = {s["id"]: s for s in spans}
    self_t = self_times(spans)
    owner = attribute_jobs(spans, jobs)
    op_jobs = {}  # root span id -> jobs
    for j in jobs:
        sid = owner.get(j["id"])
        if sid is not None:
            op_jobs.setdefault(by_id[sid]["op"], []).append(j)
    roots = [s for s in spans if s["parent"] == 0]
    m = {}

    def layer_time(name):
        ts = [self_t[s["id"]] for s in spans if s["name"] == name]
        return statistics.median(ts) if ts else 0.0

    for op in SPARK_OPS:
        calls = [s for s in roots if s["name"] == op]
        k = max(len(calls), 1)
        js = [j for s in calls for j in op_jobs.get(s["id"], [])]
        gap = 0.0
        for s in calls:
            cover = [(max(j["t0"], s["t0"]), min(j["t1"], s["t1"]))
                     for j in op_jobs.get(s["id"], []) if j["t1"] is not None]
            gap += (s["t1"] - s["t0"]) - union_length([c for c in cover if c[1] > c[0]])
        m[f"spark.{op}.jobs"] = len(js) / k
        m[f"spark.{op}.driver_gap_s"] = gap / k
        m[f"spark.{op}.input_mb"] = sum(j["input_bytes"] for j in js) / MB / k
        m[f"spark.{op}.output_mb"] = sum(j["output_bytes"] for j in js) / MB / k
        m[f"spark.{op}.shuffle_mb"] = sum(j["shuffle_bytes"] for j in js) / MB / k
        m[f"spark.{op}.executor_cpu_s"] = sum(j["cpu_ns"] for j in js) / 1e9 / k

    m["core.session_build_s"] = layer_time("core.Session.build")
    m["core.exec.execute_s"] = layer_time("core.Exec.execute")
    m["core.exec.fetch_s"] = layer_time("core.Exec.fetch")

    infer = [s for s in spans if s["name"] == "schema.Infer.inferSchema"]
    m["schema.infer_s"] = layer_time("schema.Infer.inferSchema")
    m["schema.infer_input_mb"] = (statistics.median(
        [sum(j["input_bytes"] for j in op_jobs.get(s["op"], [])) for s in infer]) / MB
        if infer else 0.0)

    def ratio(span_name, field, base):
        ss = [s for s in spans if s["name"] == span_name]
        return statistics.median([s[field] / base for s in ss]) if ss and base else 0.0

    m["io.load.read_amplification"] = ratio("io.Load.loadAndCopy", "fsRead",
                                            kind_input(record, sizes, "load")[1])
    unloads = [s for s in spans if s["name"] == "io.Unload.unloadAndCopy"]
    m["io.unload.query_executions"] = (statistics.median(
        [len({root for t, root in record["sql_starts"] if s["t0"] <= t <= s["t1"]})
         for s in unloads]) if unloads else 0.0)
    m["io.unload.write_amplification"] = ratio(
        "io.Unload.unloadAndCopy", "fsWritten", record["observed"].get("export_bytes", 0))
    for layer, span_name, n in (
            ("load", "io.Load.loadAndCopy", kind_input(record, sizes, "load")[0]),
            ("insert", "io.Insert.insertDataFrame", kind_input(record, sizes, "insert")[0]),
            ("unload", "io.Unload.unloadAndCopy", export_rows)):
        t = layer_time(span_name)
        m[f"io.{layer}.s"] = t
        m[f"io.{layer}.rows_per_s"] = n / t if t else 0.0

    for op, span_name in (("append", "ManifestTable.append"), ("merge", "ManifestDml.mergeInto"),
                          ("delete", "ManifestDml.deleteWhere"),
                          ("point_read", "ManifestTable.readPoint"),
                          ("range_read", "ManifestTable.readRange"),
                          ("view_sync", "AggView.syncFromLog"),
                          ("optimize", "ManifestTable.optimize")):
        m[f"io.manifest.{op}_s"] = layer_time("io.manifest." + span_name)
    obs = record["observed"]
    probes = obs.get("probes", [])
    m["io.manifest.point_read_segments_opened"] = (
        statistics.mean(p["opened"] / p["live"] for p in probes) if probes else 0.0)
    m["io.manifest.segments_live"] = (
        statistics.median(p["live"] for p in probes) if probes else 0.0)
    reads = [s for s in roots if s["name"] in ("point_read", "range_read")]
    scanned = sum(j["input_records"] for s in reads for j in op_jobs.get(s["id"], []))
    returned = sum((r["rows"][0] if r["kind"] == "range_read" else len(r["rows"]))
                   for r in obs.get("reads", []) if r["rows"])
    m["io.manifest.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    rewrites = [s for s in roots if s["name"] in ("merge", "delete", "optimize")]
    m["io.manifest.bytes_rewritten_per_commit"] = (
        statistics.mean(s["fsWritten"] for s in rewrites) if rewrites else 0.0)

    # one root "batch" span per measured arrival, in arrival order
    batches = [s for s in roots if s["name"] == "batch"]
    arrivals = [b for b in obs.get("batches", []) if b["round"] >= 0]
    m["streaming.batch_s"] = statistics.median(
        [s["t1"] - s["t0"] for s in batches]) if batches else 0.0
    if batches:
        jobs_per = [len(op_jobs.get(s["id"], [])) for s in batches]
        q = max(1, len(batches) // 4)
        m["streaming.jobs_per_batch_first"] = statistics.median(jobs_per[:q])
        m["streaming.jobs_per_batch_last"] = statistics.median(jobs_per[-q:])
        ep = obs["episode"]
        m["streaming.checkpoint_files_per_batch"] = ep["checkpoint_files"] / len(batches)
        m["streaming.index_roots_max"] = max(b["index_roots"] for b in arrivals)
        m["streaming.corpus_segments_end"] = ep["corpus_segments"]
        ingested = sum(b["ingested"] for b in arrivals)
        m["streaming.accept_ratio"] = arrivals[-1]["corpus"][0] / ingested
        m["streaming.docs_per_s"] = ingested / sum(s["t1"] - s["t0"] for s in batches)
    else:
        for k in ("jobs_per_batch_first", "jobs_per_batch_last", "checkpoint_files_per_batch",
                  "index_roots_max", "corpus_segments_end", "accept_ratio", "docs_per_s"):
            m[f"streaming.{k}"] = 0.0

    pr = [s for s in spans if s["name"] == "ext.Graph.pageRank"]
    m["ext.graph.pagerank_s"] = layer_time("ext.Graph.pageRank")
    m["ext.graph.jobs_per_iteration"] = (statistics.median(
        [len(op_jobs.get(s["op"], [])) for s in pr]) / obs.get("pagerank_iterations", 1)
        if pr else 0.0)
    m["ext.profile.describe_s"] = layer_time("ext.Profile.describe")

    m["trace.overhead_ratio"] = (statistics.median(round_times(record)) /
                                 statistics.median(round_times(untraced)))
    assert m.keys() == PER_LAYER.keys()
    return m


def round_times(record):
    """Per timed round, the summed time of its operations."""
    per = {}
    for s in record["samples"]:
        if s["round"] >= 0:
            per[s["round"]] = per.get(s["round"], 0.0) + s["t1"] - s["t0"]
    return list(per.values())
