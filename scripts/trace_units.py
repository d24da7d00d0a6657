#!/usr/bin/env python3
"""Per-unit job, SQL-execution and stage table of one traced benchmark run.

    python3 scripts/trace_units.py TRACE_JSON [RUN_LOG]

TRACE_JSON is the `.bench_build/trace-<workload>-seed<seed>.json` a
traced run (`perfbench/run.py ... --trace 1`) writes. Prints one
markdown row per job group (the benchmark sets one per unit, and one
per table on a refresh, written `unit/part`), in order of first job:
its jobs, the jobs outside any SQL execution, the SQL executions its
jobs ran in, and the stage ids the jobs list (skipped stages included).
A unit with parts also gets an **all** row. With RUN_LOG, the captured
stdout of that run, it adds the run's job, stage and structural counts
from its result line.
"""
import json
import sys
from collections import OrderedDict

COUNTS = ("core.eager_jobs", "llm.arrival_jobs", "llm.arrival_stages",
          "pipelines.jobs", "pipelines.stages", "pipelines.tasks",
          "structural.unsteady_within_run", "structural.unsteady_across_runs",
          "structural.units_compared_across_runs")


def main():
    trace = json.load(open(sys.argv[1]))
    groups = OrderedDict()
    for job in sorted(trace["jobs"], key=lambda j: j["id"]):
        unit, _, part = (job.get("group") or "(none)").partition("/")
        groups.setdefault((unit, part or "-"), []).append(job)
    units = OrderedDict()
    for (unit, part), jobs in groups.items():
        units.setdefault(unit, []).append((part, jobs))

    def row(unit, part, jobs):
        execs = {j["exec"] for j in jobs if j["exec"] >= 0}
        stages = {s for j in jobs for s in j["stages"]}
        outside = sum(1 for j in jobs if j["exec"] < 0)
        print(f"| {unit} | {part} | {len(jobs)} | {outside} | {len(execs)} | {len(stages)} |")

    print("| unit | part | jobs | jobs outside any SQL execution | SQL executions "
          "| stage ids the jobs list (skipped included) |")
    print("|---|---|---|---|---|---|")
    for unit, parts in units.items():
        for part, jobs in parts:
            row(unit, part, jobs)
    for unit, parts in units.items():
        if len(parts) > 1:
            row(unit, "**all**", [j for _, jobs in parts for j in jobs])

    if len(sys.argv) > 2:
        result = next(json.loads(line) for line in reversed(open(sys.argv[2]).readlines())
                      if line.startswith('{"correct"'))
        metrics = result["metrics"]
        counts = ", ".join(f"`{k}` {metrics[k]['value']:g}" for k in COUNTS
                           if k in metrics and (metrics[k]["value"] or k.startswith("structural.")))
        print(f"\nPer-layer counts from the same run (zero job counts of the "
              f"other workload omitted): {counts}")


if __name__ == "__main__":
    main()
