#!/usr/bin/env python3
"""Repository benchmark: rosbag ETL, container read/write and LLM-corpus
workloads over the graft Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline) into the checkout's
`target/` directories and caches the classpath under `.bench_build/`;
later runs reuse it while the sources are unchanged. Each run is one JVM
with Spark in local mode on every core the process may use, driven by a
single thread that issues operations back to back (a closed loop with
one client).

Workloads:
  etl_rosbag    BagEtl.run on a seeded lz4-chunked ROS1 bag (camera blobs
                plus Imu, Temperature and FluidPressure readings).
  container_rw  the same seeded message set as rosbag, MCAP and db3: four
                read queries per format and a re-export through each sink.
  llm_corpus    every LlmQueries query over the bundled corpus, seed-
                permuted, with the shared derivations rebuilt cold.

Every operation's output is checked against values the generator knows
(or, for the LLM queries, against result digests validated once with the
DuckDB oracle, `llm_digests.json`). The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones and
writes the span tree to `.bench_build/perfbench/trace-*.json`.
`--scale smoke` (extra flag) runs tiny inputs, for the benchmark's tests.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
WORKLOADS = ("etl_rosbag", "container_rw", "llm_corpus")
# Spark on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main/scala)")
    fp = source_fingerprint()
    cp_file, fp_file = BUILD / "classpath.txt", BUILD / "fingerprint"
    if cp_file.is_file() and fp_file.is_file() and fp_file.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(lines[-1].strip())
    fp_file.write_text(fp)
    return lines[-1].strip()


def wait_or_kill(proc, timeout):
    """Wait for `proc`; on timeout kill its whole process group. Returns the exit code."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    cp = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # only the heap's ceiling is set, so peak RSS follows what the program
    # actually touches
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", str(ROOT), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--scale", args.scale]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
        rc = proc.wait()
    finally:
        timer.cancel()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    keys = {"correct", "attempted", "failed", "metrics"}
    if rc != 0 or not isinstance(result, dict) or set(result) != keys:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"benchmark process exited {rc} without a result")
    for line in lines:
        print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
