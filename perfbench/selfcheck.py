#!/usr/bin/env python3
"""Self-check of the benchmark on a tiny configuration.

    python3 perfbench/selfcheck.py

For each workload, on sf0.001 tables and a 10-page catalogue, it makes two
traced runs and one untraced run, then checks that

  - every run is correct: no failed op, no output mismatch;
  - the traced counts (jobs, stages, tasks, shuffle bytes, fetches,
    micro-batches, state rows) are identical across the two traced runs;
  - every metric BENCHMARK.json names is printed, with the same unit, and
    no other.

Exits 1 and lists what differs if any check fails.
"""
import json
import os
import sys

import run

TINY = {"etl_books": ["--pages", "10"], "query_mix": run.data_args("sf0.001")}
# Counters that must repeat exactly: work done, not time spent or memory held.
REPEATS = ("jobs", "stages", "tasks", "build_jobs", "tasks_per_stage", "shuffle_read_bytes",
           "shuffle_write_bytes", "spill_bytes", "fetches_per_book", "csv_bytes_written",
           "batches", "state_rows", "rows_dropped_by_watermark")


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {"e2e": {m["name"]: m["unit"] for m in bench["end_to_end"]},
             "layer": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    cp = run.build()
    problems = []
    for wl in bench["workloads"]:
        name = wl["name"]

        def once(trace):
            out = run.launch(cp, ["--workload", name, "--seed", "7", "--passes", "3",
                                  "--trace", str(trace)] + TINY[name])
            if out["failed"] or out["mismatches"]:
                problems.append(f"{name}: failed {out['failed']} mismatches {out['mismatches']}")
            return out["metrics"]

        traced = [once(1), once(1)]
        plain = once(0)
        for k, want in units["layer"].items():
            got = [t.get(k) for t in traced]
            if any(g is None or g["unit"] != want for g in got):
                problems.append(f"{name}: layer metric {k} missing or not in {want}")
            elif k.rsplit(".", 1)[-1] in REPEATS and got[0]["value"] != got[1]["value"]:
                problems.append(f"{name}: {k} differs: {got[0]['value']} vs {got[1]['value']}")
        for t in traced:
            extra = set(t) - set(units["layer"])
            if extra:
                problems.append(f"{name}: traced run prints metrics BENCHMARK.json lacks: {sorted(extra)}")
        if set(run.E2E_UNITS) != set(units["e2e"]):
            problems.append(f"{name}: end-to-end metrics differ from BENCHMARK.json")
        for k, want in units["e2e"].items():
            if run.E2E_UNITS.get(k) != want:
                problems.append(f"{name}: end-to-end metric {k} not printed in {want}")
            elif k != "setup_s" and not isinstance(plain.get(k), (int, float)):
                problems.append(f"{name}: end-to-end metric {k} missing")
        print(f"{name}: " + json.dumps({k: v["value"] for k, v in traced[0].items()
                                        if k.rsplit('.', 1)[-1] in REPEATS and v["value"]}))
    for p in problems:
        print("FAIL " + p)
    print("selfcheck " + ("failed" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
