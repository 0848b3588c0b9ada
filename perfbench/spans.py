#!/usr/bin/env python3
"""Print the per-span breakdown of one traced run:

    python3 perfbench/spans.py .bench_build/runs/<workload>-<seed>-1/spans.json

One row per span name: the median over its occurrences (traced passes,
or the single probe run) of wall seconds, planning seconds, Spark jobs,
stages and tasks, task CPU seconds, shuffle MB written, JVM GC seconds
and eager checkpoints.
"""
import json
import statistics
import sys

COLS = [("wall_s", "wall s", 1), ("planning_s", "plan s", 1), ("jobs", "jobs", 1),
        ("stages", "stages", 1), ("tasks", "tasks", 1), ("task_cpu_s", "task cpu s", 1),
        ("shuffle_write_bytes", "shuffle MB", 1 / 1048576), ("gc_s", "gc s", 1),
        ("eager_checkpoints", "ckpts", 1)]


def main(path):
    with open(path) as f:
        spans = json.load(f)
    by_name = {}
    for s in spans:
        by_name.setdefault((s["parent"] == "probes", s["name"]), []).append(s)
    print(f"{'span':<28}" + "".join(f"{h:>11}" for _, h, _ in COLS))
    for (probe, name), ss in sorted(by_name.items()):
        row = [statistics.median(s[k] for s in ss) * scale for k, _, scale in COLS]
        label = ("probe " if probe else "") + name
        print(f"{label:<28}" + "".join(f"{v:>11.3f}" for v in row))


if __name__ == "__main__":
    main(sys.argv[1])
