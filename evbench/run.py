#!/usr/bin/env python3
"""Events-to-DB benchmark: one run of one workload.

Usage (from the repository root):

    python3 evbench/run.py --workload stream_backfill --seed 1 --seconds 10 --trace 0

Builds the harness with the program (first run only), generates the
workload's input from the seed, runs the harness in a fresh JVM with a
fresh work directory (deleted afterwards), and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(see evbench/README.md). Exits non-zero without a result line when it
cannot run or a check cannot be made.

`--pin DIR` instead writes fresh batch_llm pins and oracle inputs to DIR
(see pin.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ["stream_backfill", "batch_llm"]
FIXTURE = os.path.join(HERE, "data", "sf0.1", "events.parquet")
CORES = max(1, min(4, os.cpu_count() or 1))
# backlog files per second of --seconds, from the measured drain rate of
# ~0.75 files/s of 20k events on a 4-core host. The backlog is fixed work,
# so a faster program shows as a shorter wall_s
BACKFILL_FILES_PER_S = 0.75
RUN_LIMIT_S = 175.0

JVM_OPTS = [
    # no hsperfdata file: the JVM would write it outside the checkout
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def stage_inputs(workload, seed, seconds, trace, work):
    """Writes the generated backlogs into `work`; returns seconds spent."""
    t0 = time.perf_counter()
    if workload == "stream_backfill":
        gen.generate(FIXTURE, os.path.join(work, "input"), seed,
                     max(2, round(seconds * BACKFILL_FILES_PER_S)), 20000)
        gen.generate(FIXTURE, os.path.join(work, "warm"), seed + 7919, 1, 20000)
        # the replay check re-sends the backlog's first file from a fresh
        # checkpoint
        os.makedirs(os.path.join(work, "replay"))
        shutil.copy2(os.path.join(work, "input", "part-00000.jsonl"), os.path.join(work, "replay"))
    if trace:
        # the local[1] baseline drains a short backfill-shaped backlog
        gen.generate(FIXTURE, os.path.join(work, "local1"), seed + 104729, 2, 20000)
    return time.perf_counter() - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", metavar="DIR")
    a = ap.parse_args()
    if not a.workload and not a.pin:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.stderr.write("evbench: the program's sources are not here; run from the repository root\n")
        return 2
    cp = build.build()
    t_start = time.perf_counter()
    work = os.path.join(HERE, ".work", "run-%d-%d" % (os.getpid(), time.time_ns()))
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = a.pin or os.path.join(HERE, "out")
    try:
        prep_s = 0.0 if a.pin else stage_inputs(a.workload, a.seed, a.seconds, a.trace, work)
        cmd = (["java"] + JVM_OPTS +
               ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dderby.system.home=" + work,
                "-cp", cp, "evbench.Main",
                "--workload", a.workload or "batch_llm", "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--data", os.path.join(HERE, "data"),
                "--pins", os.path.join(HERE, "pins.json"), "--out", out_dir,
                "--prep-s", repr(prep_s), "--cores", str(CORES),
                "--mode", "pin" if a.pin else "run"])
        log_path = os.path.join(work, "harness.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                limit = None if a.pin else max(10.0, RUN_LIMIT_S - (time.perf_counter() - t_start))
                out, _ = proc.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write("evbench: run exceeded %.0f s and was stopped\n" % RUN_LIMIT_S)
                return 1
        sys.stderr.write("evbench: input %.1f s, harness JVM %.1f s\n"
                         % (prep_s, time.perf_counter() - t_start - prep_s))
        result = None
        for line in out.splitlines():
            if line.startswith("EVBENCH_NOTE "):
                print(line[len("EVBENCH_NOTE "):])
            elif line.startswith("EVBENCH_RESULT "):
                result = json.loads(line[len("EVBENCH_RESULT "):])
        if proc.returncode != 0 or (result is None and not a.pin):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write("evbench: harness failed (exit %d)\n" % proc.returncode)
            return 1
        if result is not None:
            rate = result["failed"] / result["attempted"]
            print("evbench %s seed=%d trace=%d: error_rate=%s (%d of %d failed)"
                  % (a.workload, a.seed, a.trace, rate, result["failed"], result["attempted"]))
            for name, m in result["metrics"].items():
                if not a.trace:
                    print("  %-16s %14.4f %s" % (name, m["value"], m["unit"]))
            print(json.dumps(result, separators=(",", ":")))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
