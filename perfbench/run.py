#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl_books|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Everything a run writes stays under perfbench/.work.
See perfbench/BENCHMARK.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SCALE = "sf0.01"


def data_args(scale):
    return ["--data", os.path.join(HERE, "data", scale),
            "--expected", os.path.join(HERE, "expected", scale + ".txt")]


# Measured warm passes per second of --seconds: a rough pass time per
# workload, so that a run's sample count depends on --seconds only, never on
# how fast the host is. Traced runs alternate untraced and traced passes and
# take at least three, so the traced pass sits between two untraced ones.
WORKLOADS = {
    "etl_books": {"pass_s": 5.0, "args": ["--pages", "50"]},
    "query_mix": {"pass_s": 8.0, "args": data_args(SCALE)},
}
# Untimed warm passes between the cold pass and the measured ones: the JIT
# makes the first warm pass 10-20% slower than the second, and that step
# varied most between runs.
WARMUP = 1
JVM_TIMEOUT_S = 170

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "pass_s": "s"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine with the harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            old, cp = fh.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=700)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def launch(cp, args):
    """Runs the harness JVM to completion and returns its JSON line."""
    # A fixed heap and young generation under the parallel collector keep
    # the resident set a property of the workload rather than of adaptive
    # heap sizing.
    cmd = ["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", WORK] + args
    p = subprocess.run(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       text=True, timeout=JVM_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        log(f"harness exited with {p.returncode}")
        sys.exit(4)
    return json.loads(lines[-1])


def steal_pct(before, after):
    dt = after["total_jiffies"] - before["total_jiffies"]
    return 100.0 * (after["steal_jiffies"] - before["steal_jiffies"]) / dt if dt > 0 else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a checkout root")
        sys.exit(2)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()

    wl = WORKLOADS[a.workload]
    passes = max(1 + 2 * a.trace, round(a.seconds / wl["pass_s"]))
    out = launch(cp, ["--workload", a.workload, "--seed", str(a.seed), "--warmup", str(WARMUP),
                      "--passes", str(passes), "--trace", str(a.trace)] + wl["args"])
    for d in ("scratch", "spark-local", "warehouse", "tmp", "catalogue", "etl_out"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    host = out["host"]
    print("# host " + json.dumps({
        "nproc": host["before"]["nproc"],
        "loadavg_before": host["before"]["loadavg"], "loadavg_after": host["after"]["loadavg"],
        "steal_pct": round(steal_pct(host["before"], host["after"]), 3),
        "warmup": WARMUP, "passes": passes}))
    for m in out["mismatches"]:
        print("# mismatch " + m)
    for f in out["failed"]:
        print("# failed " + f)

    metrics = out["metrics"]
    if a.trace == 0:
        metrics = dict(metrics, setup_s=out["setup_s"])
        shaped = {k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        shaped = metrics
    correct = not out["failed"] and not out["mismatches"]
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": len(out["failed"]), "metrics": shaped}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
