#!/usr/bin/env python3
"""Write the traced-run record: for each workload, one untraced and one
traced run on the same seed, the per-layer metrics, self time per layer,
and the tracing overhead (traced minus untraced, per user-visible metric:
the end-to-end set plus throughput and latencies).

    python3 perfbench/record.py --seed 101 --seconds 8 > perfbench/records/traced_run.json
"""
import argparse
import json
import os
import platform
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402


def one(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            return next(l.split(":", 1)[1].strip() for l in f if l.startswith("model name"))
    except (OSError, StopIteration):
        return platform.processor()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args()
    rec = {"seed": a.seed, "seconds": a.seconds, "cpus": len(os.sched_getaffinity(0)),
           "cpu": cpu_model(), "workloads": {}}
    for w in WORKLOADS:
        plain = one(w, a.seed, a.seconds, 0)
        traced = one(w, a.seed, a.seconds, 1)
        files = {}
        for t in (0, 1):
            with open(os.path.join(build.build_dir(), "trace", f"{w}-seed{a.seed}-trace{t}.json")) as f:
                files[t] = json.load(f)
        seen_plain, seen_traced = files[0]["user_visible"], files[1]["user_visible"]
        rec["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "end_to_end": {k: m["value"] for k, m in plain["metrics"].items()},
            "per_layer": {k: m["value"] for k, m in traced["metrics"].items()},
            "self_ms_by_layer": files[1]["trace"]["self_ms_by_layer"],
            "spans_by_name": dict(Counter(s["name"] for s in files[1]["trace"]["spans"])),
            "user_visible_untraced": seen_plain,
            "user_visible_traced": seen_traced,
            "tracing_overhead": {k: seen_traced[k] - v for k, v in seen_plain.items()
                                 if v is not None and seen_traced.get(k) is not None},
        }
    json.dump(rec, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
