#!/usr/bin/env python3
"""Benchmark entry point (see README.md in this directory).

    python3 perfbench/run.py --workload <reference_batch|corpus_dag|event_stream>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the harness from the checkout's sources (once per
checkout), generates the workload's inputs from the seed, runs the workload
in one JVM against local[nproc], checks every result, and prints each metric
by name with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 175.0

# Inputs per workload: scale factor and the tables the workload reads.
WORKLOADS = {
    "reference_batch": (0.01, ["region", "nation", "customer", "supplier", "part", "orders",
                               "lineitem", "events", "documents"]),
    "corpus_dag": (0.01, ["documents", "embeddings"]),
    "event_stream": (0.01, ["events"]),
}
# Fixed-rate phase and ladder of the open-loop stream, in events/s, and the
# micro-batch trigger. The trigger leaves the fixed rate below sustained: on 4
# cores a micro-batch of the four queries takes 0.9-1.8 s, so a 1 s trigger
# would run them back to back. The fixed-rate phase lasts at least `seconds`
# and at least STREAM_MIN_TRIGGERS triggers (24 micro-batches of the four
# queries for the median); each ladder step lasts one trigger.
STREAM_RATE = 1_000
STREAM_LADDER = [2_000, 4_000]
STREAM_TRIGGER_MS = 3000
STREAM_MIN_TRIGGERS = 6
# Every micro-batch generates fresh classes, which in a young JVM kept the
# C2 compiler busy on 2-3 of 4 vCPUs (52-83 s of compile time in a 25 s
# window) and made micro-batch times swing by a third between runs; with C1
# only the stream compiles for about 7 s and runs faster and steadier.
STREAM_JVM_OPTS = ["-XX:TieredStopAtLevel=1"]

JVM_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:MaxHeapFreeRatio=100", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                 "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
     for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt once per source state and
    remember the runtime classpath; later runs launch java directly."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found next to the benchmark (expected src/main/scala/graft)")
    cp_file, stamp_file = os.path.join(TARGET, "classpath.txt"), os.path.join(TARGET, "sources.sha256")
    digest = sources_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
                               + ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
                                  if os.path.isfile(repo_cfg) else []))
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"], cwd=HERE, env=env,
                             stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cp = next((ln for ln in reversed(lines) if "scala-2.13/classes" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return cp


def generate(data_dir, seed, sf, names, reps=3):
    """Generate the inputs `reps` times (same seed, same bytes) and return
    each repetition's seconds; set-up counts their median."""
    import gen
    times = []
    for _ in range(reps):
        t = time.time()
        gen.write(data_dir, seed, sf, names)
        times.append(time.time() - t)
    return times


def run_jvm(cp, args, work, budget_s, jvm_opts):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), SPARK_LOCAL_IP="127.0.0.1")
    for d in ("scratch", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java"] + JVM_OPTS + jvm_opts + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", cp, "perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, budget_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded its time budget; log in {log}", 3)
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail(f"benchmark JVM failed (exit {rc}); log in {log}", 3)
    with open(os.path.join(work, "out", "raw.json")) as fh:
        return json.load(fh)


def stream_args(seconds):
    """The stream's feed plan: a one-trigger warm-up (untimed), the
    fixed-rate phase and one step per ladder rate, each a whole number of
    triggers, so every phase feeds whole micro-batches."""
    trigger_s = STREAM_TRIGGER_MS / 1000.0
    fixed = max(STREAM_MIN_TRIGGERS, math.ceil(seconds / trigger_s - 1e-9))
    return ["--stream-rate", str(STREAM_RATE), "--stream-ladder", ",".join(map(str, STREAM_LADDER)),
            "--stream-trigger-ms", str(STREAM_TRIGGER_MS), "--stream-warmup-s", str(trigger_s),
            "--stream-fixed-s", str(fixed * trigger_s), "--stream-step-s", str(trigger_s)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    a = ap.parse_args()

    t_build = time.time()
    cp = build()
    build_s = time.time() - t_build  # a first-run build is not set-up time

    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    sf, names = WORKLOADS[a.workload]
    gen_s = generate(data, a.seed, sf, names)

    args = ["--workload", a.workload, "--data", data, "--out", os.path.join(WORK, "out"),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
            "--cpus", str(a.cpus)]
    stream = a.workload == "event_stream"
    if stream:
        args += stream_args(a.seconds)
    t_jvm = time.time()
    raw = run_jvm(cp, args, WORK, DEADLINE_S - (time.time() - T0 - build_s), STREAM_JVM_OPTS if stream else [])
    raw["t0_ms"] = (T0 + build_s) * 1000.0
    raw["gen_s"] = gen_s

    t_check = time.time()
    result = metrics.compute(raw, data, os.path.join(WORK, "out", "results"), trace=bool(a.trace))
    print(f"perfbench: build {build_s:.1f} s, inputs {t_jvm - t_build - build_s:.1f} s, "
          f"jvm {t_check - t_jvm:.1f} s, checks {time.time() - t_check:.1f} s", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    for line in result["notes"]:
        print(line)
    print(f"correctness: {'PASS' if result['correct'] else 'FAIL'} "
          f"({result['failed']} of {result['attempted']} operations failed)")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
