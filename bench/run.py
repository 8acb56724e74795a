#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 bench/run.py --workload <batch_backfill|stream_steady>
                         --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source (bench/build.sh; reused while the sources are
unchanged), runs graftbench.Main in one JVM sized from this host (local[cores], shuffle
partitions = cores, heap from MemTotal), reduces its raw observations with
bench/analysis.py, and prints a readable summary followed, as the LAST stdout line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones; the traced run's
spans and stage records are kept in .bench_build/trace-<workload>-<seed>.json.
Exits non-zero when a correctness gate fails or the run cannot complete.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import analysis

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_backfill", "stream_steady")
RUN_TIMEOUT_S = 165

END_TO_END_UNITS = {"setup_s": "s", "turns_per_s": "turns/s", "detect_p50_s": "s"}

# Spark on JDK 17 outside spark-submit needs these opens (JavaModuleOptions).
ADD_OPENS = [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("run.py: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        sys.exit(f"run.py: no jars directory under {home}")
    return jars


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 test command's rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(args, jars, work):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -UsePerfData: no hsperfdata file in the system temp directory, outside the checkout
    cmd = [java(), f"-Xmx{heap()}", "-XX:+UseTransparentHugePages", "-XX:-UsePerfData",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([os.path.join(BUILD, "classes"), os.path.join(jars, "*")]),
           "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out]
    # the JVM's own output goes to stderr: stdout carries only this script's result
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run.py: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # on a timeout, or when this script is stopped, the JVM goes with it
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        sys.exit(f"run.py: benchmark JVM exited with {code}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the scratch removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run.py: terminated"))

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    if subprocess.run(["bash", os.path.join(HERE, "build.sh"), jars],
                      stdout=sys.stderr).returncode != 0:
        sys.exit("run.py: build failed")

    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        t0 = time.time()
        raw = run_jvm(args, jars, work)
        metrics, attempted, failed, correct, extra = analysis.end_to_end(raw)
        if args.trace:
            values, units = analysis.per_layer(raw)
            trace_file = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_file, "w", encoding="utf-8") as f:
                json.dump(raw, f)
        else:
            values, units = metrics, END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} cores {raw['cores']} "
          f"turns {raw['turns']} wall {time.time() - t0:.1f} s")
    names = dict(END_TO_END_UNITS, drain_turns_per_s="turns/s", detect_p90_s="s")
    for name, value in {**metrics, **extra}.items():
        print(f"  {name:<20} {value if value is not None else 'n/a':>14} {names[name]}")
    print(f"  {'ops_failed':<20} {failed:>14} of {attempted} ops_attempted")
    if args.trace:
        for name, value in values.items():
            print(f"  {name:<28} {value:>16} {units[name]}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
