#!/usr/bin/env python3
"""Isolated per-query bench probe (round-13 verdict ask #1).

The per-round bench runs ~400 queries in one JVM; when a handful of
queries drift round-over-round on untouched code, the adjudication
("host noise, not a code regression") needs REPRODUCIBLE evidence, not
anecdotes. This tool runs each named query ALONE in a FRESH JVM
(`sbt -batch "runMain graft.Bench <name>"`), min-of-REPS inside that
JVM (default 5), and GATES each launch on an idle host (1-min load
below the gate, with a bounded wait). The emitted artifact carries the
full in-band evidence of every child run — load before/after, steal
percentage over the run, any warning — so a later reader can re-weigh
the numbers exactly like any BENCH_local record.

Usage:
  python3 tools/bench_probe.py OUT.json q205_resample_grid [more ...]

Env:
  SPARK_GRAFT_SF_DIR        dataset dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_BENCH_REPS    reps inside each JVM (default 5)
  PROBE_LOAD_GATE           1-min load threshold to launch (default 1.5)
  PROBE_GATE_TIMEOUT_SEC    max wait per gate (default 1800; on timeout
                            the run proceeds and the artifact records
                            "gate_timed_out": true for that query)
"""
import json
import os
import subprocess
import sys
import time


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def wait_for_idle(gate, timeout_sec):
    t0 = time.time()
    while time.time() - t0 < timeout_sec:
        l1 = loadavg()[0]
        if l1 < gate:
            return True, l1
        time.sleep(15)
    return False, loadavg()[0]


def run_one(name, reps, sf_dir):
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_REPS"] = str(reps)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    # GRAFT_REPO_DIR lets the probe drive a DIFFERENT checkout (e.g. an
    # old-round worktree) for same-host A/B bisection of bench drift
    repo = os.environ.get("GRAFT_REPO_DIR", os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    # fail SOFT on a wedged child: record the timeout and keep probing the
    # rest of the list (the artifact is only written after the loop)
    timeout = int(os.environ.get("PROBE_CHILD_TIMEOUT_SEC", "3600"))
    try:
        out = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Bench {name}'],
            capture_output=True, text=True, env=env, cwd=repo,
            timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"error": f"child timed out after {timeout}s"}
    # sbt prefixes stdout lines with "[info] " — take the JSON from the
    # '{"metric"' marker onward, wherever it sits in the line
    line = next((l[l.index('{"metric"'):] for l in out.stdout.splitlines()
                 if '{"metric"' in l), None)
    rec = json.loads(line) if line is not None else {}
    # Bench lists a query that threw under "failed" and exits 1; a child
    # that exits non-zero without a line failed before it could report
    if name in rec.get("failed", []) or out.returncode != 0:
        return {"error": "query failed in Bench", "exit_code": out.returncode,
                "failed": rec.get("failed"),
                "tail": out.stdout[-2000:] + out.stderr[-2000:]}
    if line is None:
        return {"error": "no bench JSON line",
                "tail": out.stdout[-2000:] + out.stderr[-2000:]}
    qs = dict(rec.get("queries", {}))
    qs.update(rec.get("stream_certs", {}))
    if name not in qs:
        return {"error": f"query {name} missing from bench output",
                "names": sorted(qs)}
    return {
        "sec": qs[name],
        # staging/compute split (round-16): seconds of the query's time
        # spent building memoized staged corpora — in a fresh JVM the
        # probed query is the FIRST consumer, so it pays all of it
        "stage_sec": rec.get("stage_secs", {}).get(name, 0.0),
        "reps": rec.get("reps"),
        "load_before": rec.get("load_before"),
        "load_after": rec.get("load_after"),
        "steal_pct": rec.get("steal_pct"),
        **({"warning": rec["warning"]} if "warning" in rec else {}),
    }


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_path = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    gate = float(os.environ.get("PROBE_LOAD_GATE", "1.5"))
    gate_timeout = int(os.environ.get("PROBE_GATE_TIMEOUT_SEC", "1800"))
    results = {}
    for name in names:
        idle, l1 = wait_for_idle(gate, gate_timeout)
        print(f"[probe] {name}: launching at 1-min load {l1:.2f}"
              + ("" if idle else f" (GATE TIMED OUT at {gate})"),
              flush=True)
        rec = run_one(name, reps, sf_dir)
        if not idle:
            rec["gate_timed_out"] = True
        rec["gate_load"] = l1
        results[name] = rec
        print(f"[probe] {name}: {json.dumps(rec)}", flush=True)
    artifact = {
        "probe": "fresh JVM per query, min-of-reps, idle-gated",
        "sf": sf_dir,
        "reps": reps,
        "load_gate": gate,
        "recorded_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"[probe] wrote {out_path}")


if __name__ == "__main__":
    main()
