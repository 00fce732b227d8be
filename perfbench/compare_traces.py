#!/usr/bin/env python3
"""Lists, by name, every count that differs between two traced runs.

    python3 perfbench/compare_traces.py A.json B.json

A and B are trace artifacts from .bench_build/traces/ (runs with
--trace 1). Counts are the job, stage, task, query and plan-shape
metrics of the run and, for the catalog, of every entry. Two traced runs
of the same seed should print nothing; the exit code is 1 if any count
differs.
"""
import json
import sys

COUNT_PREFIXES = ("exec.jobs", "exec.stages", "exec.tasks", "exec.single_task_jobs",
                  "catalyst.queries", "plan.", "entry.construct_jobs", "entry.action_jobs",
                  "analyze.jobs", "export.jobs")


def counts(path):
    t = json.load(open(path))
    out = {k: v for k, v in t["layer"].items() if k.startswith(COUNT_PREFIXES)}
    art = t.get("artifact", {})
    for name, e in art.get("entries", {}).items():
        for phase, cs in e["counts"].items():
            for k, v in cs.items():
                out[f"{name}.{phase}.{k}"] = v
    for fam, cs in art.get("families", {}).items():
        for k, v in cs.items():
            out[f"family.{fam}.{k}"] = v
    return out


def main():
    a, b = counts(sys.argv[1]), counts(sys.argv[2])
    diff = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    for k in diff:
        print(f"{k} {a.get(k)} {b.get(k)}")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
