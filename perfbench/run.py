#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source on first use (see build.py), then runs one JVM
(`graftbench.Main`) that generates the seeded inputs (cached under
`.bench_build/inputs`, outside all timing), measures the workload and checks
its outputs. The JVM's last stdout line is one JSON object
`{"correct", "attempted", "failed", "metrics"}`; it is validated and printed
as this command's last line. The exit status is 0 only when every
correctness check passed and no operation failed.

Workloads, metrics and the layer→metric map: BENCHMARK.json and
perfbench/METRICS.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_uniform", "batch_hotkey", "stream_microbatch")
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    return a


def check_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"malformed metric {name}: {m}")
    return res


def main():
    a = parse_args()
    try:
        cp, src_hash = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    work = build.BUILD_DIR
    # Class-data sharing: the first run in a checkout records the classes it
    # loads into an archive that later runs map, which cuts JVM start-up and
    # the cold set-up; warm passes are unaffected.
    archive = os.path.join(work, f"graftbench-{src_hash}.jsa")
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}.tmp"])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(work, f"last-{a.workload}.log")
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmp}"] + cds + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" +
            os.path.join(build.BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(cp), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s; log: {log_path}")
    if proc.returncode in (0, 1) and os.path.isfile(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    try:
        res = check_result(lines[-1]) if lines else None
    except ValueError as e:
        res = None
        print(f"bad result line: {e}", file=sys.stderr)
    if res is None:
        fail(f"benchmark JVM exited {proc.returncode} without a result; log: {log_path}")
    print(json.dumps(res))
    ok = proc.returncode == 0 and res["correct"] and res["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
