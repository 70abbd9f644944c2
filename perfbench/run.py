#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of the repository):
  python3 perfbench/run.py --workload <read_mix|llm_ops|commit_stream>
                           --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark's JVM code
(`perfbench/build.sbt`) into `target/` and `perfbench/target/`. Every run
starts one JVM, which sets the workload up, measures whole passes of it
for at least `--seconds`, and writes what it measured to a work directory
under `.bench_build/`. This script then checks the outputs (DuckDB oracle
for registry queries, the client-side model for commit_stream), prints the
metrics, and ends with one JSON line: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_math as bm  # noqa: E402

WORKLOADS = ("read_mix", "llm_ops", "commit_stream")
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


def data_root():
    """The directory holding `sf0.1/`: $SPARK_GRAFT_SF_DIR's parent when
    set (the variable `graft.Bench` reads), else the location TESTDATA.md
    documents for the repo's read-only test tables."""
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf and os.path.isfile("TESTDATA.md"):
        m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", open("TESTDATA.md").read())
        sf = m.group(1) if m else None
    if not sf or not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        die("cannot find the sf0.1 test tables (set SPARK_GRAFT_SF_DIR)")
    return os.path.dirname(os.path.normpath(sf))


def source_stamp():
    """Hash of every input of the build, so a stale build is redone."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt once per source state;
    returns the runtime classpath."""
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        die("no engine sources here: run from the root of the repository")
    stamp, cp_file = os.path.join(BUILD_DIR, "stamp"), os.path.join(BUILD_DIR, "classpath")
    want = source_stamp()
    if os.path.isfile(stamp) and open(stamp).read() == want and os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd="perfbench", env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=800)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        die(f"build failed (see {BUILD_DIR}/build.log)", 3)
    open(cp_file, "w").write(lines[-1])
    open(stamp, "w").write(want)
    return lines[-1]


def run_jvm(cp, args, work, main_class="perfbench.Main", timeout_s=JVM_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main_class] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the run did not finish in {timeout_s} s")
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(result):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        die(f"the run failed (exit {code}):\n{tail}")
    return json.load(open(result))


# ---------------------------------------------------------------- oracle

def canon(df):
    """tools/check.py's canonical form: sorted columns, µs timestamps,
    object columns as strings, rows sorted."""
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frames_differ(a, b):
    """None when the canonical frames agree, else what differs first
    (tools/check.py's comparison)."""
    import pandas as pd
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            eq = (x.isna() & y.isna()) | (x.astype(float).values == y.astype(float).values)
        else:
            eq = (x.isna() & y.isna()) | (x.values == y.values)
        if not eq.all():
            bad = (~eq).idxmax()
            return f"{c}[row{bad}]: {x[bad]!r} vs {y[bad]!r} (n={int((~eq).sum())})"
    return None


def oracle_frame(sql, sf_dir):
    """The DuckDB oracle's result, cached per (query text, tables): the
    test tables are immutable."""
    import pandas as pd
    key = hashlib.sha256((os.path.abspath(sf_dir) + "\n" + sql).encode()).hexdigest()[:24]
    path = os.path.join(BUILD_DIR, "oracle", key + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
    df = con.execute(sql).fetchdf()
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def oracle_check(res, work, sf_dir):
    """Compare each query's warm-up output with the oracle. Returns
    {query: problem} for every query that failed its set-up or disagreed."""
    import pandas as pd
    wrong = dict(res["setup_errors"])
    for q, sql in sorted(res["oracle_sql"].items()):
        if q in wrong:
            continue
        try:
            diff = frames_differ(pd.read_parquet(os.path.join(work, "out", q)),
                                 oracle_frame(sql, sf_dir))
        except Exception as e:  # an oracle or read error is a failed check
            diff = f"{type(e).__name__}: {str(e)[:200]}"
        if diff:
            wrong[q] = "oracle: " + diff
    return wrong


# ---------------------------------------------------------------- metrics

def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    data = data_root()
    work = os.path.abspath(os.path.join(
        BUILD_DIR, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace),
                           "--data", data, "--work", work, "--cpus", str(cpus())], work)
        report(args, res, work, os.path.join(data, "sf0.1"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, work, sf_dir):
    ops = res["ops"]
    checks = res.get("checks", [])
    wrong = oracle_check(res, work, sf_dir) if "oracle_sql" in res else {}
    attempted, failed, failed_names = bm.failure_count(ops, checks, wrong)

    lat = [o["ms"] for o in ops]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (bm.ops_per_s(ops), "1/s"),
        "op_p50_ms": (bm.median(lat), "ms"),
        "op_p90_ms": (bm.percentile(lat, 90), "ms"),
        "failed_frac": (failed / attempted, "fraction"),
        "peak_rss_mb": (res["rss_hwm_kb"] / 1024.0, "MB"),
    }
    samples = {"op_p90_ms": len(lat)}
    files_now = res.get("files_final", {})
    if args.workload == "commit_stream":
        commits = [o["ms"] for o in ops if o["kind"] == "write"]
        reads = [o["ms"] for o in ops if o["kind"] == "read"]
        submitted = (bm.plain_parquet_bytes(os.path.join(work, "cs", "submitted")) +
                     bm.plain_parquet_bytes(os.path.join(work, "cs", "submitted_deletes")))
        e2e.update({
            "commit_p50_ms": (bm.median(commits), "ms"),
            "commit_p90_ms": (bm.percentile(commits, 90), "ms"),
            "read_p50_ms": (bm.median(reads), "ms"),
            "read_p90_ms": (bm.percentile(reads, 90), "ms"),
            "write_amp": (bm.write_amp(res["files_new"], submitted), "ratio"),
            "space_amp": (bm.space_amp(files_now, bm.plain_parquet_bytes(
                os.path.join(work, "cs", "live"))), "ratio"),
        })
        samples.update({"commit_p90_ms": len(commits), "read_p90_ms": len(reads)})

    passes = max(o["pass"] for o in ops)
    print(f"# {args.workload} seed={args.seed}: {len(ops)} ops in {passes} pass(es), "
          f"{res['window_s']:.2f} s measured, closed loop, 1 client, local[{res['cpus']}]")
    tail = bm.highest_valid_percentile(len(lat))
    for name, (v, unit) in e2e.items():
        note = ""
        if v is None:
            note = f"  ({samples[name]} samples; a p90 needs {bm.MIN_BEYOND} beyond it)"
        print(f"  {name:<14} {fmt(v):>12} {unit}{note}")
    print(f"  highest percentile with {bm.MIN_BEYOND} samples beyond it: "
          + (f"p{tail} = {fmt(bm.percentile(lat, tail))} ms" if tail else "none"))
    print(f"  GC inside the timed ops: {sum(o['gc_ms'] for o in ops):.0f} ms of "
          f"{sum(lat):.0f} ms (a full GC before each op is outside its timing)")
    if res.get("phases_s"):
        print("  phases: " + ", ".join(f"{k} {v:.2f} s" for k, v in res["phases_s"].items()))
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["ms"])
    print("  per op: " + ", ".join(f"{n} {bm.median(v):.0f} ms x{len(v)}"
                                   for n, v in sorted(by_name.items())))
    for o in ops:
        if o.get("maintain"):
            print(f"  maintain in pass {o['pass']}: " +
                  ", ".join(f"{k} {v}" for k, v in sorted(o["maintain"].items())))
    for n in sorted(set(failed_names)):
        why = wrong.get(n) or next((o.get("error") for o in ops + checks
                                    if o["name"] == n and o.get("error")), "")
        print(f"  FAILED {n}: {why}")

    if args.trace:
        layers = bm.layer_metrics(res["trace"], res["window_s"], res["cpus"],
                                  res.get("files_new"), files_now)
        print("  spans (count, total ms, self ms):")
        for name, row in sorted(bm.span_table(res["trace"]).items()):
            print(f"    {name:<32} {row['count']:>6} {row['total_ms']:>12.1f} {row['self_ms']:>12.1f}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E_KEYS}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


# The end-to-end metrics of the final line, as BENCHMARK.json lists them:
# present and never 0 on every workload, and steady enough across seeds to
# gate. The rest of the block above is printed, not gated.
E2E_KEYS = ("setup_s", "ops_per_s", "peak_rss_mb")

LAYER_UNITS = {k: ("ms" if k.endswith("ms") else "bytes" if "bytes" in k
                   else "ratio" if k.endswith(("_ratio", "_frac", "_util")) else "count")
               for k in bm.layer_metrics(
                   {"spans": [], "jobs": [], "stages": [], "queries": [], "streaming": [],
                    "counters": {}}, 1.0, 1)}


if __name__ == "__main__":
    main()
