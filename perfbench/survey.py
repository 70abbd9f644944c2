#!/usr/bin/env python3
"""Survey the commit traffic of the registry's commit-heavy queries.

Usage (from the root of the repository):
  python3 perfbench/survey.py [q1,q2,...]

Runs each query once at sf0.1 in one JVM (`perfbench.CommitSurvey`) and
prints every manifest commit it makes: operation, the table's live rows
before it, rows added, rows deleted through deletion vectors, and rows in
files it dropped. It sums them up per operation. It then counts the writer calls in each query's
registration in `src/main/scala/graft/SparkEntry.scala`: SQL statements
against Layout calls. `commit_stream`'s mix and batch sizes come from
this survey; perfbench/README.md records its output.
"""
import os
import re
import shutil
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# The registrations with setup_sec >= 1 s in the engine's full bench
# (BENCH_FULL.txt): the ones whose time is mostly commits.
COMMIT_HEAVY = (
    "q172_maintain_invariance q171_cdc_mirror q169_constraint_gated_merge "
    "q182_catalog_lifecycle q173_sql_merge_full_sync q158_incremental_join_view "
    "q212_deep_clone q177_sql_merge_evolution q176_sql_lifecycle "
    "q213_catalog_evolution q202_catalog_merge q195_unique_ingest q143_dv_update "
    "q165_sql_update_delete q148_metadata_profile q194_generated_columns "
    "q146_drop_column q159_merge_into q164_sql_merge q150_widened_merge "
    "q145_rename_column q153_incremental_minmax q142_dv_delete q139_incremental_view "
    "q147_restore q152_row_upsert q163_incremental_moments q174_sql_delete_subquery "
    "q162_sql_change_feed q156_sql_surface q181_sql_overwrite q144_bloom_skipped_scan "
    "q166_stream_change_view q185_column_markers q186_copy_into").split()

SQL_WRITES = ("MERGE INTO", "DELETE FROM", "UPDATE graft", "INSERT INTO", "INSERT OVERWRITE",
              "COPY INTO", "OPTIMIZE graft", "VACUUM graft")
API_WRITES = ("upsertVersionedRows", "appendVersionedRows", "deleteVersionedRows",
              "mergeIntoVersionedRows", "mergeVersionedPartitioned", "deleteVersionedPartitioned",
              "updateVersionedRows", "Layout.maintain")


def writer_calls(queries):
    """Per query: how often its registration names each SQL write
    statement and each Layout writer."""
    src = open(os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")).read()
    starts = [(m.group(1), m.start()) for m in re.finditer(r'\n    "(q\d+_\w+)" -> \(\(', src)]
    bodies = {q: src[a:b] for (q, a), (_, b) in zip(starts, starts[1:] + [("", len(src))])}
    out = {}
    for q in queries:
        body = bodies.get(q, "")
        out[q] = {k: body.count(k) for k in SQL_WRITES + API_WRITES if body.count(k)}
    return out


def main():
    queries = sys.argv[1].split(",") if len(sys.argv) > 1 else list(COMMIT_HEAVY)
    cp = run.build()
    data = run.data_root()
    work = os.path.abspath(os.path.join(run.BUILD_DIR, "work", f"survey-{os.getpid()}"))
    os.makedirs(work)
    try:
        res = run.run_jvm(cp, ["--data", data, "--work", work, "--cpus", str(run.cpus()),
                               "--queries", ",".join(queries)],
                          work, "perfbench.CommitSurvey", timeout_s=1800)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    commits = [c for c in res["commits"] if "error" not in c]
    for c in res["commits"]:
        if "error" in c:
            print(f"ERROR {c['query']}: {c['error']}")
    print(f"{'query':<30} {'root':>4} {'ver':>6} {'operation':<14} {'live_before':>11} "
          f"{'rows_added':>10} {'dv_rows':>8} {'rows_dropped':>12}")
    by_op = {}
    for c in commits:
        print(f"{c['query']:<30} {c['root']:>4} {c['version']:>6} {c['operation']:<14} "
              f"{c['live_before']:>11} {c['rows_added']:>10} {c['dv_rows_added']:>8} "
              f"{c['rows_dropped']:>12}")
        if c["live_before"]:
            by_op.setdefault(c["operation"], []).append(c)
    n = sum(len(v) for v in by_op.values())
    print(f"\n{n} commits to tables that already held rows, in "
          f"{len({c['query'] for c in commits})} queries; shares are of the live rows "
          "before the commit")
    print(f"{'operation':<14} {'commits':>7} {'share':>6} {'median added':>12} "
          f"{'added/live':>10} {'median dv':>9} {'dv/live':>8}")
    for op, v in sorted(by_op.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        med = lambda f: statistics.median(f(c) for c in v)  # noqa: E731
        print(f"{op:<14} {len(v):>7} {len(v) / n:>6.2f} {med(lambda c: c['rows_added']):>12.0f} "
              f"{med(lambda c: c['rows_added'] / c['live_before']):>10.4f} "
              f"{med(lambda c: c['dv_rows_added']):>9.0f} "
              f"{med(lambda c: c['dv_rows_added'] / c['live_before']):>8.4f}")
    print("\nwriter calls named in each registration:")
    totals = {}
    for q, calls in writer_calls(queries).items():
        print(f"  {q:<30} " + ", ".join(f"{k} {v}" for k, v in sorted(calls.items())))
        for k, v in calls.items():
            totals[k] = totals.get(k, 0) + v
    print("  total: " + ", ".join(f"{k} {v}" for k, v in sorted(totals.items())))


if __name__ == "__main__":
    main()
