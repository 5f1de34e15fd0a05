#!/usr/bin/env python3
"""Per-query bench regression tracker: compare two BENCH_r{N}.json artifacts
and flag real regressions, discounting load-corrupted runs.

Usage: python3 tools/bench_diff.py BENCH_r03.json BENCH_r04.json [ratio]

A query is flagged when new/old exceeds the ratio (default 1.5) AND the
absolute delta exceeds 0.5 s (sub-second jitter is not a regression).
Additionally — round-9, closing the blind spot the round-8 verdict named
(q230 drifted 1.40x/+2.8 s under the 1.5x gate) — a query whose time grows
> 1.3x AND > 1 s is flagged as DRIFT even when it passes the main gate:
large absolute movement on an expensive query is signal, not jitter. A
query named in the new artifact's `failed` list (Bench leaves a query that
threw out of `queries`) is flagged as a regression too. Each
artifact's in-band load evidence (`load_before`, emitted by Bench since
round 4) is printed first — numbers recorded above 1-min load ~1.5 are
untrustworthy (see BASELINE.md's bench history), and the comparison says so
rather than pretending precision.

(Driver-side tooling only — not part of the Spark library.)
"""
import json
import sys


def load(path):
    """Accept either Bench's own JSON line or the driver's BENCH_r{N}.json
    wrapper (which carries Bench's stdout inside a `tail` string)."""
    with open(path) as f:
        art = json.load(f)
    if "value" not in art and "tail" in art:
        tail = art["tail"]
        try:  # full Bench line present in the captured tail
            chunk = tail[tail.rindex('{"metric"'):]
            art = json.loads(chunk[: chunk.rindex("}") + 1])
        except ValueError:
            # the driver keeps a bounded tail of stdout — the line's head
            # (metric/value) may be cut off; recover the queries dict and
            # loadavg by regex and recompute the total
            import re
            q = re.search(r'"queries":\{([^}]*)\}', tail).group(1)
            queries = {k: float(v) for k, v in re.findall(r'"([^"]+)":([-\d.eE]+)', q)}
            art = {"value": sum(queries.values()), "queries": queries}
            lb = re.search(r'"load_before":\[([^\]]*)\]', tail)
            if lb:
                art["load_before"] = [float(x) for x in lb.group(1).split(",")]
    return art


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    old, new = load(old_path), load(new_path)

    for name, art in ((old_path, old), (new_path, new)):
        lb = art.get("load_before")
        tag = f"load_before={lb}" if lb else "no load evidence (pre-round-4 artifact)"
        trust = ""
        if lb and lb[0] > 1.5:
            trust = "  ** UNTRUSTWORTHY: recorded under load **"
        print(f"{name}: total={art['value']:.1f}s  {tag}{trust}")
    print()

    # round-8 Bench splits streaming certifications into a separate
    # `stream_certs` map; merge for comparison so the shared-query set is
    # stable across the format change.
    oq = {**old["queries"], **old.get("stream_certs", {})}
    nq = {**new["queries"], **new.get("stream_certs", {})}
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    # a query that threw is left out of `queries` and named in `failed`
    failed = sorted(new.get("failed", []))
    removed = [n for n in removed if n not in failed]
    flagged = []
    for name in sorted(set(oq) & set(nq)):
        a, b = oq[name], nq[name]
        if a <= 0 or b <= 0:
            flagged.append((name, a, b, "errored"))
        elif b / a > ratio and b - a > 0.5:
            flagged.append((name, a, b, f"{b / a:.1f}x slower"))
        elif b / a > 1.3 and b - a > 1.0:
            flagged.append((name, a, b, f"DRIFT {b / a:.2f}x (+{b - a:.1f}s)"))

    for name in failed:
        print(f"REGRESSION {name}: failed in {new_path}")
    for name, a, b, why in flagged:
        print(f"REGRESSION {name}: {a:.2f}s -> {b:.2f}s ({why})")
    if added:
        print("added:", ", ".join(f"{n} ({nq[n]:.2f}s)" for n in added))
    if removed:
        print("removed:", ", ".join(removed))
    if not flagged and not failed:
        print(f"no regressions > {ratio}x (+0.5s) across {len(set(oq) & set(nq))} shared queries")
    sys.exit(1 if flagged or failed else 0)


if __name__ == "__main__":
    main()
