#!/usr/bin/env python3
"""Structural bench-coverage check: every query registered in the engine
must have a timing row in the given (idle) bench artifact.

The round-7 and round-8 verdicts both flagged the same process gap: queries
added AFTER the idle bench was recorded carry no trustworthy timing. This
tool makes the gap mechanical to catch — run it against the artifact you
are about to commit:

    python3 tools/bench_coverage.py BENCH_local_r9_idle.json

Exit 0 = the artifact covers every query name declared in the registries
(pattern `val qNNN_<name>: Q` in src/main/scala/graft/queries/*.scala — the
declarations each family's `defs` is derived from, which SparkEntry
assembles verbatim). Exit 1 = names missing from the artifact (re-record the bench)
or stale names present only in the artifact (query was renamed/removed).
Also refuses artifacts recorded under load (load_before[0] > 1.5) — a full
row set of untrustworthy numbers is still a gap.

(Driver-side tooling only — not part of the Spark library.)
"""
import glob
import json
import re
import sys


def registry_names():
    names = set()
    for path in glob.glob("src/main/scala/graft/queries/*.scala"):
        with open(path) as f:
            names.update(re.findall(r'^\s*val (q\d+_\w+): Q\b', f.read(), re.M))
    return names


def main():
    art_path = sys.argv[1]
    with open(art_path) as f:
        art = json.load(f)
    benched = set(art.get("queries", {})) | set(art.get("stream_certs", {}))
    declared = registry_names()

    problems = False
    lb = art.get("load_before")
    if lb and lb[0] > 1.5:
        print(f"UNTRUSTWORTHY: {art_path} recorded at 1-min load {lb[0]} > 1.5")
        problems = True
    missing = sorted(declared - benched)
    stale = sorted(benched - declared)
    if missing:
        print(f"MISSING from {art_path} ({len(missing)}): " + ", ".join(missing))
        problems = True
    if stale:
        print(f"STALE in {art_path} ({len(stale)}): " + ", ".join(stale))
        problems = True
    if not problems:
        print(f"OK: {art_path} covers all {len(declared)} registered queries"
              f" (load_before={lb})")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
