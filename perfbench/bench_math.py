"""The benchmark's arithmetic: percentiles, self time, failure accounting,
write and space amplification, and the layer metrics of a traced run.

Everything here is a pure function of what one run recorded, so
`test_bench_math.py` can pin it without Spark.
"""
import io
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def rank(n, p):
    """1-based nearest rank of the p-th percentile among n sorted samples."""
    return max(1, math.ceil(p / 100.0 * n))


def percentile(values, p):
    """The p-th percentile (nearest rank), or None when fewer than
    MIN_BEYOND samples lie above it."""
    n = len(values)
    if n == 0 or n - rank(n, p) < MIN_BEYOND:
        return None
    return sorted(values)[rank(n, p) - 1]


def highest_valid_percentile(n):
    """The highest whole percentile with MIN_BEYOND samples beyond it among
    n samples, or None when there is none."""
    for p in range(99, 0, -1):
        if n - rank(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values):
    return statistics.median(values) if values else None


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles `statistics.quantiles(values, n=4)` gives."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def ops_per_s(ops):
    """Ops per second of op latency. A closed loop with one client runs
    ops back to back, so this is the reciprocal of the mean op latency.
    The runs of one registry query within a pass count as one op, at
    their fastest: min-of-N, as `graft.Bench` reports each query."""
    best = {}
    for i, o in enumerate(ops):
        key = (o["pass"], o["name"]) if o["kind"] == "query" else i
        best[key] = min(best.get(key, math.inf), o["ms"])
    return len(best) / (sum(best.values()) / 1000.0)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the span."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])


def failure_count(ops, checks=(), wrong_queries=()):
    """(attempted, failed, names of what failed).

    An op fails when it raised or returned a wrong result, or when it ran a
    query whose output disagreed with the oracle. Each end-of-run check
    counts as one attempt."""
    wrong = set(wrong_queries)
    failed_names = []
    for o in ops:
        if not o["ok"] or o["name"] in wrong:
            failed_names.append(o["name"])
    for c in checks:
        if not c["ok"]:
            failed_names.append(c["name"])
    return len(ops) + len(checks), len(failed_names), failed_names


def plain_parquet_bytes(path):
    """Size of the rows stored under `path` re-encoded as one plain Parquet
    file: no compression, no dictionary. Both sides of an amplification
    ratio use this encoding, so neither profits from the codec."""
    import pyarrow.parquet as pq
    table = pq.read_table(path)
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="NONE", use_dictionary=False)
    return buf.tell()


def write_amp(new_files, submitted_bytes):
    """Bytes of the files created under the root per byte submitted."""
    return sum(new_files.values()) / submitted_bytes


def space_amp(files_now, live_bytes):
    """Bytes on disk under the root per byte of live rows."""
    return sum(files_now.values()) / live_bytes


# ---------------------------------------------------------------- traces

COMMIT_SPANS = {"sources.upsertVersionedRows", "sources.appendVersionedRows",
                "sources.deleteVersionedRows", "sources.maintain"}
DML_OPS = {"op:merge_sql", "op:delete_sql", "op:update_sql"}


def merged_jobs(trace):
    """Job start and end records folded into one dict per job."""
    jobs = {}
    for r in trace["jobs"]:
        jobs.setdefault(r["id"], {}).update(r)
    return list(jobs.values())


def span_index(trace):
    return {s["id"]: s for s in trace["spans"]}


def ancestors(spans, span_id):
    """The span and each span above it."""
    out = []
    while span_id in spans:
        s = spans[span_id]
        out.append(s)
        span_id = s["parent"]
    return out


def is_commit_span(span, spans):
    if span["name"] in COMMIT_SPANS:
        return True
    parent = spans.get(span["parent"])
    return span["name"] == "plans.sql" and parent is not None and parent["name"] in DML_OPS


def span_children(trace):
    """Child intervals of each span: its spans and the jobs that carried
    its id."""
    kids = {}
    for s in trace["spans"]:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in merged_jobs(trace):
        if "end" in j:
            kids.setdefault(j["span"], []).append((j["start"], j["end"]))
    return kids


def span_table(trace):
    """Per span name: count, total ms and self ms (minus spans and jobs
    below it)."""
    kids = span_children(trace)
    table = {}
    for s in trace["spans"]:
        name = "op" if s["name"].startswith("op:") else s["name"]
        row = table.setdefault(name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += s["end"] - s["start"]
        row["self_ms"] += self_time(s["start"], s["end"], kids.get(s["id"], []))
    return table


def layer_metrics(trace, window_s, cpus, new_files=None, root_files=None):
    """The per-layer metrics of one traced run."""
    spans = span_index(trace)
    jobs = merged_jobs(trace)
    stages = trace["stages"]
    queries = trace["queries"]
    progress = trace["streaming"]
    counters = trace["counters"]
    new_files = new_files or {}
    root_files = root_files or {}

    def span_ms(name):
        return sum(s["end"] - s["start"] for s in trace["spans"] if s["name"] == name)

    def under(job, pred):
        return any(pred(s) for s in ancestors(spans, job["span"]))

    eager = [j for j in jobs if under(j, lambda s: s["name"] == "entry.build")]
    commit_jobs = {j["id"] for j in jobs if under(j, lambda s: is_commit_span(s, spans))}
    commit_stages = [s for s in stages if s["job"] in commit_jobs]
    task_run_ms = sum(s["run_ms"] for s in stages)
    commit_read = sum(s["input_bytes"] for s in commit_stages)
    written = sum(new_files.values())
    files_read = counters.get("sources.scan_files_read", 0.0)
    files_listed = counters.get("sources.scan_files_listed", 0.0)
    dml_sql_ms = sum(s["end"] - s["start"] for s in trace["spans"]
                     if s["name"] == "plans.sql" and spans.get(s["parent"], {}).get("name") in DML_OPS)
    return {
        "entry.build_ms": span_ms("entry.build"),
        "entry.eager_jobs": len(eager),
        # the listener's query executions, plus the analysis of each
        # registry Dataset, which happens when it is built
        "plans.analysis_ms": sum(q["analysis_ms"] for q in queries)
        + counters.get("plans.entry_analysis_ms", 0.0),
        "plans.optimization_ms": sum(q["optimization_ms"] for q in queries),
        "plans.planning_ms": sum(q["planning_ms"] for q in queries),
        "plans.queries": len(queries),
        "plans.plan_nodes": sum(q["plan_nodes"] for q in queries),
        "plans.dml_sql_ms": dml_sql_ms,
        "exec.ms": span_ms("exec.action"),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_cpu_ms": sum(s["cpu_ms"] for s in stages),
        "exec.task_run_ms": task_run_ms,
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.slot_util": task_run_ms / (window_s * 1000.0 * cpus),
        "exec.single_task_stages": sum(1 for s in stages if s["num_tasks"] == 1),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.broadcast_bytes": sum(q["broadcast_bytes"] for q in queries),
        "exec.peak_exec_mem_bytes": max([s["peak_exec_mem_bytes"] for s in stages] or [0]),
        "sources.commit_ms": counters.get("sources.commit_ms", 0.0),
        "sources.commits": counters.get("sources.commits", 0.0),
        "sources.commit_jobs": len(commit_jobs),
        "sources.commit_tasks": sum(s["tasks"] for s in commit_stages),
        "sources.commit_bytes_read": commit_read,
        "sources.bytes_written": written,
        "sources.files_written": len(new_files),
        "sources.readback_ratio": commit_read / written if written else 0.0,
        "sources.manifest_bytes": sum(v for k, v in root_files.items() if is_manifest(k)),
        "sources.maintain_ms": span_ms("sources.maintain"),
        "sources.scan_files_read": files_read,
        "sources.prune_frac": 1.0 - files_read / files_listed if files_listed else 0.0,
        "streaming.batches": len(progress),
        "streaming.batch_ms": sum(p["batch_ms"] for p in progress),
        "streaming.input_rows": sum(p["input_rows"] for p in progress),
        "streaming.state_rows": max([p["state_rows"] for p in progress] or [0]),
        "util.release_ms": span_ms("util.release"),
        "util.cached_bytes_peak": counters.get("util.cached_bytes_peak", 0.0),
    }


def is_manifest(relpath):
    """Whether a file under a table root is a version's manifest
    (`v<N>.manifest`)."""
    return relpath.endswith(".manifest")
