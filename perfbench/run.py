#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

The first call builds the program and the benchmark from source with sbt
(the benchmark's own build in this directory depends on the repository
root). Later calls start the JVM directly from the recorded classpath and
rebuild only when a source file is newer than it.

`--smoke` runs every workload at toy size, traced and untraced, and checks
each result against the metric lists in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ["batch_build", "stream_drops"]

# Spark on JDK 17 needs these when it is not launched by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 890  # ... or 900 s when it has to build first


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads; a newer one than the classpath means rebuild."""
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]:
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def needs_build():
    if not os.path.exists(CLASSPATH):
        return True
    built = os.path.getmtime(CLASSPATH)
    return any(os.path.getmtime(f) > built for f in sources() if os.path.exists(f))


def build(deadline):
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    run_child(cmd, BENCH, env, deadline, stdout=sys.stderr)
    if not os.path.exists(CLASSPATH):
        raise RuntimeError("the build did not write a classpath")


def run_child(cmd, cwd, env, deadline, stdout):
    """Runs `cmd` in its own process group and kills the group at `deadline`."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd[0]} exited with {proc.returncode}")
    return out


def run_workload(workload, seed, seconds, trace, smoke, deadline):
    """Runs one workload in a fresh JVM; returns the parsed result object."""
    work = os.path.join(TARGET, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--reports", os.path.join(TARGET, "reports"),
            "--smoke", "1" if smoke else "0"])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    try:
        out = run_child(cmd, ROOT, env, deadline, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode("utf-8").splitlines() if l.strip()]
    if not lines:
        raise RuntimeError("the run printed no result")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"malformed result: {lines[-1]}")
    return result


def check_schema(result, trace):
    """The result carries exactly the declared metrics, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = []
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: missing "
                        f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                        f"units {[k for k in got if k in want and got[k] != want[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            problems.append(f"{k} is not a number")
        elif not trace and v["value"] == 0:
            problems.append(f"end-to-end metric {k} is 0")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"outputs not correct: {result['failed']} of {result['attempted']} failed")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    # a terminated run still stops its JVM or sbt: SystemExit reaches run_child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"the program's sources are not next to the benchmark (expected {ROOT}/build.sbt "
            f"and {ROOT}/src/main/scala)")
        return 2
    try:
        built = needs_build()
        if built:
            build(start + BUILD_RUN_LIMIT_S - 120)
        limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S
        if args.smoke:
            problems = []
            for w in WORKLOADS:
                for trace in (0, 1):
                    r = run_workload(w, 1, 1, trace, True, time.time() + RUN_LIMIT_S)
                    problems += [f"{w} trace={trace}: {p}" for p in check_schema(r, trace)]
                    log(f"smoke {w} trace={trace}: {'ok' if not problems else problems[-1]}")
            for p in problems:
                log(p)
            return 1 if problems else 0
        result = run_workload(args.workload, args.seed, args.seconds, args.trace, False,
                              start + limit)
    except Exception as e:  # a failed build or run prints no result
        log(f"failed: {e}")
        return 1
    log(f"{args.workload} seed {args.seed} trace {args.trace}: {time.time() - start:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
