#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload kv_timeseries --seed 1 --seconds 12 --trace 0

Builds the library and the harness from source when they changed
(perfbench/build.sh), runs one JVM (`local[<cores>]`, one client thread)
in a fresh work directory that is deleted on exit, checks every output,
and prints one JSON object as the last line of standard output:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
A human-readable report (per-operation latencies with sample counts, box
health) goes to standard error. Exits non-zero on any wrong output.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("kv_timeseries", "corpus_chain")
JVM_LIMIT_S = 165
# Spark on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# A fixed heap, touched at start-up, so that no run pays for first-touch
# page faults inside its measured region.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]


def run_jvm(args, work):
    with open(os.path.join(HERE, ".build", "spark_jars")) as f:
        classpath = os.path.join(HERE, ".build", "classes") + ":" + f.read().strip() + "/*"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *OPENS, *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", os.path.join(work, "raw.json")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_LIMIT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with code {rc}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    subprocess.run(["bash", os.path.join(HERE, "build.sh")], check=True, stdout=sys.stderr)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        os.makedirs(work)
        raw = run_jvm(args, work)
        errors = list(raw["errors"])
        if args.workload == "corpus_chain":
            import oracle
            for query in sorted(os.listdir(os.path.join(work, "result"))):
                errors += [f"{query}: {e}" for e in oracle.check(
                    os.path.join(work, "input"), os.path.join(work, "result", query),
                    os.path.join(work, "oracle", query + ".sql"))]
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    ops = raw["ops"]  # the cold phase's warm-up operations and the loop's
    failed = sum(1 for o in ops if not o["ok"])
    values = metrics.per_layer(raw) if args.trace else metrics.end_to_end(raw)
    report = {"workload": args.workload, "seed": args.seed, "errors": errors,
              "latency_by_type": metrics.summary(raw), "phases_ms": raw["phases_ms"],
              "health": raw["health"]}
    print(json.dumps(report), file=sys.stderr)
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": values}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
