#!/usr/bin/env python3
"""CDC sync + live-search benchmark: one run of one workload.

    python3 perfbench/run.py --workload sync_trickle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), runs the workload in one JVM at local[nproc],
and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (and writes the spans to .bench_build/trace/). Exits
non-zero, printing no result, when the program's sources are missing, the
build fails, or the run fails or overruns.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["sync_trickle", "sync_bulk_wide"]
RUN_LIMIT_S = 170   # one run, after the build, must end inside this

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_result(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    for m in res["metrics"].values():
        if not isinstance(m.get("value"), (int, float)):
            return None
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", classes + os.pathsep + build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work,
              "--tracedir", os.path.join(build.build_dir(), "trace"), "--cores", str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True, cwd=work, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_LIMIT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    res = parse_result(out)
    if proc.returncode != 0 or res is None:
        sys.exit("perfbench: run failed (exit %s)" % proc.returncode)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
