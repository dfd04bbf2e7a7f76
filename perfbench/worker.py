"""The benchmark's engine process: start a session, run one warm-up pass,
print ``READY`` (the parent times set-up up to that line), then run passes
back to back for the measured seconds, check every pass's outputs outside
the timed region, and write the raw samples as JSON for the parent to
reduce.

Run by ``perfbench/run.py`` from a throwaway working directory with the
repository first on ``PYTHONPATH``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np


def vm_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit: it ends on
    end-of-file on its standard input."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from etl_pipeline_for_retail_sales_data_spark.session import get_spark

    from spans import Tracer, self_times
    from workloads import WORKLOADS

    with open(args.inputs) as f:
        inputs = json.load(f)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.perf_counter() - t0
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    wl = WORKLOADS[args.workload](spark, inputs, args.work)
    rng = np.random.default_rng(args.seed)
    plain = Tracer(spark, enabled=False, run_id=f"{args.workload}-{args.seed}-plain")
    t0 = time.perf_counter()
    wl.run_pass(plain, rng)
    warmup_s = time.perf_counter() - t0
    print("READY", flush=True)

    jvm_rss_mb = vm_kb(jvm_pid, "VmRSS") / 1024
    traced = Tracer(spark, enabled=True, run_id=f"{args.workload}-{args.seed}-traced") if args.trace else None
    oracle_cache: dict = {}
    passes, jobs, mismatches = [], [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        # after one settling pass, a traced run orders its passes untraced,
        # traced, traced, untraced (repeated): the passes after the warm-up
        # pass keep getting a little faster, and this order cancels that
        # drift out of the difference of the two kinds' medians, the
        # tracing overhead
        k = len(passes)
        tracer = traced if (traced and k % 4 in (2, 3)) else plain
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        lat = wl.run_pass(tracer, rng)
        seconds = time.perf_counter() - t0
        passes.append({"seconds": seconds, "traced": tracer is traced, "settle": bool(traced) and k == 0, "jobs": lat})
        jobs.extend(lat.values())
        bad = wl.check(oracle_cache)
        mismatches.extend(f"pass {len(passes)}: {m}" for m in bad)
        done = len(passes) % 4 == 1 and k > 0 if traced else len(passes) >= wl.min_passes
        if time.perf_counter() >= deadline and done:
            break

    failures = plain.failures + (traced.failures if traced else [])
    result = {
        "min_jobs": len(passes[0]["jobs"]) * wl.min_passes,
        "passes": passes,
        "jobs": jobs,
        "failures": failures,
        "mismatches": mismatches,
        "leaked_rdds": plain.leaked_rdds + (traced.leaked_rdds if traced else 0),
        "input_rows": wl.input_rows(),
        "input_bytes": wl.input_bytes(),
        "stored_bytes": wl.stored_bytes(),
        "peak_rss_mb": (vm_kb(jvm_pid, "VmHWM") + vm_kb(os.getpid(), "VmHWM")) / 1024,
        "session": {"get_spark_s": get_spark_s, "warmup_s": warmup_s, "jvm_rss_mb": jvm_rss_mb},
    }
    if traced:
        self_times(traced.spans)
        result["spans"] = traced.spans
        result["extra"] = wl.trace_extra()
    stop(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
