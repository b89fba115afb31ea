#!/usr/bin/env python3
"""Render a traced run as markdown: the per-op split of wall time into job
wall, planning outside jobs and the residual driver time, with scheduler,
task and shuffle counters beside it.

    python3 perfbench/trace_report.py perfbench/work/<workload>/trace-seed<n>.json
"""
import json
import sys

COLS = [
    ("wall_s", "wall"), ("build_s", "build"), ("self.jobs_s", "jobs"),
    ("self.plan_outside_jobs_s", "plan"), ("self.driver_other_s", "driver other"),
    ("self.plan_in_jobs_s", "plan in jobs"),
    ("sched.jobs", "jobs#"), ("sched.stages", "stages#"), ("sched.tasks", "tasks#"),
    ("task.run_s", "task run"), ("task.cpu_s", "task cpu"), ("task.gc_s", "gc"),
    ("shuffle.write_mb", "shuf w MB"), ("ckpt.created", "ckpt new"),
    ("ckpt.live", "ckpt live"),
]


def get(span, key):
    if key.startswith("self."):
        return span["self"][key[5:]]
    return span[key]


def fmt(v):
    return f"{v:.0f}" if float(v).is_integer() and abs(v) >= 1 else f"{v:.3f}"


def main(path):
    with open(path) as fh:
        t = json.load(fh)
    spans = t["spans"]
    by_id = {s["id"]: s for s in spans}
    passes = {s["id"] for s in spans if s["kind"] == "pass"}
    print(f"## {t['workload']} (seed {t['seed']}, {t['passes']} timed pass(es), traced)\n")
    print("Per-layer totals per pass:\n")
    print("| metric | value |\n| --- | --- |")
    for k, v in t["per_layer"].items():
        print(f"| {k} | {fmt(v)} |")
    print("\nEnd-to-end numbers of this traced run:\n")
    print("| metric | value |\n| --- | --- |")
    for k, v in t["end_to_end_traced"].items():
        print(f"| {k} | {fmt(v)} |")
    print("\nOps. jobs is the union of the op's job intervals, plan the Catalyst "
          "phases outside them, and driver other the residual wall − jobs − plan, "
          "so the three add up to wall by construction. plan in jobs is planning "
          "that overlapped a job (adaptive re-planning); the residual leaves it "
          "out rather than counting it twice.\n")
    print("| op | " + " | ".join(c[1] for c in COLS) + " |")
    print("| --- |" + " --- |" * len(COLS))
    negative = []
    in_jobs = 0.0
    for s in spans:
        if s["kind"] == "pass":
            continue
        depth = 0
        p = s["parent"]
        while p is not None and p not in passes:
            depth += 1
            p = by_id[p]["parent"]
        if s["self"]["driver_other_s"] < 0:
            negative.append(s["name"])
        if s["parent"] in passes:
            in_jobs += s["self"]["plan_in_jobs_s"]
        print("| " + "&nbsp;&nbsp;" * depth + s["name"] + " | "
              + " | ".join(fmt(get(s, c[0])) for c in COLS) + " |")
    print(f"\nPlanning that overlapped jobs, summed over the top-level ops: {in_jobs:.3f} s.")
    print(f"Ops whose residual driver time is negative: {', '.join(negative) or 'none'}.")


if __name__ == "__main__":
    main(sys.argv[1])
