#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs the
workload in a fresh JVM on local[<cores>], and prints the JVM's
`name value unit` metric lines followed, as the last line, by one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end set, with --trace 1 its per_layer
set. The full record of the run is kept in perfbench/results/.

Exits non-zero without a result line when the build, the run or a metric
is missing. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc", "table_serve")
MARKER = "--- graftbench metrics ---"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
_LINE = re.compile(r"^(?:\[\w+\] )?([A-Za-z0-9][A-Za-z0-9_.\-]*) (\S+) (\S+)$")


def parse_metric_lines(text):
    """Metrics from a stdout tail: `name value unit` lines after the marker.

    Tolerates sbt's `[info] ` prefix on forked output and any noise lines.
    """
    out = {}
    seen = False
    for raw in text.splitlines():
        line = raw.rstrip("\r")
        if line.endswith(MARKER):
            seen, out = True, {}
            continue
        if not seen:
            continue
        m = _LINE.match(line)
        if not m:
            continue
        try:
            value = float(m.group(2))
        except ValueError:
            continue
        out[m.group(1)] = {"value": value, "unit": m.group(3)}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    try:
        classpath = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_build", "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record = os.path.join(HERE, "results", tag + ".json")
    if os.path.exists(record):
        os.remove(record)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would move Spark's scratch space out of the checkout
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--record", record,
              "--cores", str(os.cpu_count() or 1)])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, env=env,
                           timeout=JVM_TIMEOUT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        sys.exit(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stdout.write(r.stdout)
        sys.exit(f"{a.workload} failed with exit code {r.returncode}")

    printed = parse_metric_lines(r.stdout)
    with open(record) as f:
        rec = json.load(f)
    for line in r.stdout.splitlines():
        if _LINE.match(line) or line == MARKER:
            print(line)
    metrics = {}
    for m in wanted:
        name = m["name"]
        got = rec["metrics"].get(name)
        if got is None or got["value"] is None or not math.isfinite(got["value"]):
            sys.exit(f"metric {name} missing from the {a.workload} record")
        if printed.get(name, {}).get("value") != got["value"]:
            sys.exit(f"metric {name}: printed line and record disagree")
        if got["unit"] != m["unit"]:
            sys.exit(f"metric {name}: unit {got['unit']} is not BENCHMARK.json's {m['unit']}")
        metrics[name] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": bool(rec["correct"]) and rec["failed"] == 0,
                      "attempted": int(rec["attempted"]), "failed": int(rec["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
